package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Top-w argmin by (d2, id) — the map-side-combinable aggregate the
  * two-level router's TOP-w SUPER routing needs (SURVEY §4.2's
  * custom-Aggregator case): collecting the w lexicographically
  * smallest (distance, id) pairs per group in ONE pass. `w` is the
  * ROUTING WIDTH dial: a serve that probes nprobe cells must route to
  * at least nprobe supers, because a super structurally guarantees
  * only ≥ 1 child — top-2 routing provably covers an nprobe = 2 serve
  * but UNDER-provisions wider dials (the filtered-ANN serving rule
  * needs nprobe ≈ 2–3 × k/(s·|cell|) — 24–64 at sharp filters on the
  * n/125 geometry, SCALE.md) on any corpus where a routed super has
  * few children. The
  * alternatives are worse at scale: a window over the items×sups
  * expand shuffles n·√cells rows (the groupBy collapses them
  * map-side), and w chained min(struct) passes scan the expand w
  * times. Ties break exactly like `min(struct(d2, id))` — strictly
  * lexicographic, with keys compared like Spark's sort (NaN above
  * every number, -0.0 = 0.0 — see [[BeamTopW.lt]]) — so the streamed
  * encoder's Long arithmetic and the oracle's
  * `row_number() OVER (ORDER BY d2, sid) <= w` agree bit-for-bit on
  * integer-valued distances.
  *
  * Input contract: `d2` must be INTEGER-VALUED and < 2⁵³ in
  * magnitude. Callers feed micro-unit squared-L2 sums (BIGINT-exact,
  * bounded ~2.6×10¹⁴ at 64 dims), which the Double input represents
  * exactly; a larger-magnitude integer distance would round in the
  * implicit cast and silently break the bit-parity tie-break
  * contract with the oracle's integer comparisons.
  */
final case class MinPairW(w: Int)
    extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[Long]] {
  require(w >= 1, s"routing width must be >= 1, got $w")

  import BeamTopW.lt

  override def zero: Seq[(Double, Long)] = Seq.empty

  /** buffers stay (d2, id)-sorted and ≤ w long; the common case once
    * full — a candidate no better than the current worst — is one
    * comparison, no allocation
    */
  override def reduce(b: Seq[(Double, Long)], v: (Double, Long)): Seq[(Double, Long)] =
    if (b.length == w && !lt(v, b.last)) b
    else ((b :+ v).sortWith(lt)).take(w)

  override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
    (a ++ b).sortWith(lt).take(w)

  /** Best-first ids. */
  override def finish(r: Seq[(Double, Long)]): Seq[Long] = r.map(_._2)

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    ExpressionEncoder[Seq[(Double, Long)]]()

  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
}

object MinPairW {
  /** Column form: top-`w` ids by ascending (d2, id). */
  def topW(w: Int)(d2: Column, id: Column): Column =
    org.apache.spark.sql.functions
      .udaf(MinPairW(w), ExpressionEncoder[(Double, Long)]()).apply(d2, id)
}
