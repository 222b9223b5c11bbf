package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search + multimodal operators over the `embeddings` and
  * `documents` tables (SURVEY §2.10).
  *
  * Numeric parity with the DuckDB oracle: every dot product / norm is
  * a *sequential left-to-right* fold over the 64 float components cast
  * to double (`aggregate`/`zip_with` in Spark, `list_sum(list_transform)`
  * in DuckDB), so both engines perform bit-identical IEEE operations in
  * the same order and produce bit-identical doubles — ranking ties and
  * round() boundaries cannot diverge.
  *
  * The LSH variant uses 8 signed random hyperplanes whose INTEGER
  * weights are derived once, driver-side, from md5 ("plane:p:j") — the
  * same literal numbers are baked into both the DataFrame plan and the
  * oracle SQL, so no engine-native randomness or hash is involved. At
  * scale the planes are a broadcast-sized constant, the bucket id is a
  * map-side projection, and candidate generation is a bucket-keyed
  * self-join — never all-pairs.
  *
  * Every ANN key composes route, score, cut and refine stages, each
  * written once in Spark and once as a DuckDB fragment (mostly in
  * [[D]]):
  *  - route: [[coarseRanked]] over a [[superLayer]] (oracle
  *    [[superLayerCtes]] + [[twoLevelRankCtes]], preamble [[D.ivf]]),
  *    [[quantRoute]] ([[D.ivfAsg]], [[D.ivfProbes]]), the stored-index
  *    probe [[storedProbe]] = [[cellPlan]] + [[readLists]];
  *  - score: [[cosine]], [[sqDist]]/[[sqd]] ([[D.sqd]]), [[d2]]
  *    ([[dd2]]), the PQ [[subspaces]] ([[D.subspaces]]), distance table
  *    [[pqDist]] and encoder [[pqEncode]] ([[D.pqEncCtes]]), the ADC
  *    aggregate [[adc]] ([[D.adist]]);
  *  - cut: [[nearest]] (argmin), [[topK]] ([[topKSql]],
  *    [[D.topKCte]]), [[cosineTopK]]; refine: [[exactRerank]]
  *    ([[D.refineCtes]]);
  *  - storage: [[writeLists]], [[writeLayer]], [[copyLayer]];
  *    [[microCol]] ([[D.micro]]) is the one micro-unit projection.
  */
object Vectors {

  import QueryDef.sql

  private val dim = 64
  private val nPlanes = 8

  /** First 32 bits of md5 as a non-negative Long (driver-side twin of
    * ops.h32 — used only to derive plane-weight literals).
    */
  private def md5h32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }

  /** 8 × 64 integer plane weights in [-500, 500]. */
  private val planes: Seq[Seq[Long]] =
    Seq.tabulate(nPlanes, dim)((p, j) => md5h32(s"plane:$p:$j") % 1001 - 500)

  /** Deterministic coarse-quantizer picks for the FIXED-8-seed IVF
    * dial keys (sim_ivf, sim_ivf_refined, sim_ivf_probe2,
    * sim_ivf_refined_probe2, knn_graph, dedup_semantic,
    * embed_outliers) — the pedagogical progression those keys
    * document. The PRODUCTION IVF×PQ family (sim_ivf_pq*,
    * sim_ivf_filtered, stream_ivfpq_index) uses the corpus-scaled,
    * Lloyd-refined quantizer [[scaledLloydCent]] instead.
    */
  private[graft] val ivfCentroidIds: Seq[Long] =
    Seq(3L, 17L, 42L, 99L, 123L, 200L, 321L, 444L)

  /** Per-cell size target of the corpus-scaled coarse quantizer:
    * cells = max(8, ⌈n/ivfPerCell⌉), so per-cell candidate work stays
    * FLAT as the corpus grows (the knn_graph_scaled dial, now under
    * the whole persisted IVF×PQ family).
    */
  private[graft] val ivfPerCell: Long = 125L

  /** Format/build-version token folded into every staged vector-index
    * stamp: [[graft.ops.stagedArtifact]] freshness is otherwise keyed
    * only on the SOURCE parquet, so a code change to the build recipe
    * (quantizer geometry, codebook seeds, schema) would silently serve
    * a stale index built by an earlier version. Bump on any change to
    * the encode logic or layout.
    */
  private[graft] val ivfIndexFormat: String = "f8-staged-cent"

  /** Deterministic per-subspace codebook picks for product
    * quantization (sim_pq_adc): 4 codes per 8-dim subspace.
    */
  private val pqSeedIds: Seq[Long] = Seq(3L, 17L, 42L, 99L)

  /** Codebook picks for RESIDUAL product quantization
    * (sim_ivf_pq_residual): the codebook is learned from these
    * vectors' residuals against their own cell centroids. (Under the
    * old fixed-seed quantizer these had to avoid the centroid ids —
    * a centroid's residual was the zero vector; [[scaledLloydCent]]'s
    * centroids are lattice-rounded means, so no corpus vector
    * coincides with one generically — but distinct non-seed picks
    * remain the safe choice.)
    */
  private[graft] val pqResSeedIds: Seq[Long] = Seq(7L, 21L, 55L, 77L)

  /** Multi-probe masks: every 8-bit mask of hamming weight ≤ 2 — the
    * query's own bucket plus all buckets within hamming distance 2
    * (1 + 8 + 28 = 37 probes). The static variant of the standard
    * multi-probe sequence; probe count is the recall↔cost dial.
    */
  private val probeMasks: Seq[Long] =
    (0L until (1L << nPlanes)).filter(m => java.lang.Long.bitCount(m) <= 2)

  // ---- Spark-side building blocks ---------------------------------------

  /** embeddings spread across the cluster (a tiny single-file scan
    * would serialize the per-row vector math on one core). */
  private def emb(s: SparkSession, d: String): DataFrame =
    graft.ops.spread(Tables.embeddings(s, d))

  /** Sequential-fold dot product — the codegen'd Catalyst expression
    * (graft.functions.DotProduct), bit-identical to the HOF
    * `aggregate(zip_with(...))` formulation and to the oracle.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotp(a, b)

  /** Cache a frame both sides of an ANN join read, filled eagerly: a
    * lazy cache would let the two join branches race to double-compute
    * the bucketing. A deployment too large to cache the bucketed corpus
    * recomputes only the map-side bucket projection per branch (8
    * codegen'd hyperplane dot products per row) — never a shuffle.
    */
  private[graft] def eagerCache(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Squared euclidean distance between two micro-unit-quantized
    * vectors as a sequential left-to-right double fold — integer-valued
    * and < 2⁵³, so it is EXACT, and the identical fold to the oracle's
    * `list_sum(list_transform(...))`. THE one squared-L2 fold: shared
    * by dedup_semantic/embed_outliers, the PQ encoders and (via the
    * bigint-cast [[sqd]]) every exact micro-unit top-k, so the
    * exact-fold invariant lives once.
    */
  private[graft] def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0d), (acc, v) => acc + v)

  /** [[sqDist]] as a bigint — the exact scores every micro-unit top-k
    * ranks and emits.
    */
  private def sqd(a: Column, b: Column): Column = sqDist(a, b).cast("bigint")

  /** Squared L2 in the expanded dot form a·a − 2a·b + b·b — exact on
    * micro-unit integers (< 2⁵³), and the form every coarse ranking and
    * its oracle twin [[dd2]] use.
    */
  private def d2(a: Column, b: Column): Column =
    dot(a, a) - lit(2) * dot(a, b) + dot(b, b)

  /** THE nearest-cell step: per `keys` group, `best` = the smallest
    * (d2, id) struct — ties to the lower id, which is exactly
    * `row_number() OVER (ORDER BY d2, id) = 1` — as one partially
    * aggregated min, so the candidate expand collapses map-side
    * instead of being shuffled and sorted. `carry` columns ride along
    * through first() (functionally dependent on the keys).
    */
  private def nearest(df: DataFrame, keys: Seq[Column], d2: Column, id: Column,
      carry: String*): DataFrame =
    df.groupBy(keys: _*)
      .agg(min(struct(d2.as("d2"), id)).as("best"), carry.map(c => first(col(c)).as(c)): _*)

  /** THE per-group top-k cut: rank each `part` group by `order` (the
    * caller ends it with an id column so ties are total), keep
    * rnk ≤ k; `rnk` is a bigint running 1..n. The oracle twin is
    * [[topKSql]].
    */
  private[graft] def topK(df: DataFrame, part: Column, k: Int, order: Column*): DataFrame =
    df.withColumn("rnk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(part).orderBy(order: _*)).cast("bigint"))
      .filter(col("rnk") <= k)

  /** THE cosine of vectors `a`, `b` with norms `an`, `bn`:
    * dot/(an·bn), NULL when the norm product is 0 — a zero-norm
    * embedding has no direction. DuckDB's x/0 is NULL as well, and both
    * engines rank NULL last under `cos DESC` and drop it from a
    * `cos >= t` filter; a bare ANSI `/` would fail the whole key with
    * DIVIDE_BY_ZERO instead. A NaN component still scores NaN.
    */
  private def cosine(a: Column, b: Column, an: Column, bn: Column): Column = {
    val nn = an * bn
    dot(a, b) / when(nn =!= 0, nn)
  }

  /** The cosine search shared by the float-vector keys: queries
    * (q_id, qe, qn) join candidates (c_id, ce, cn) on `on` minus the
    * self pair, [[cosine]], per-query top-k by (cos DESC, c_id),
    * emitted as (q_id, c_id, rnk, cosine) with a 6-decimal cosine.
    */
  private[graft] def cosineTopK(q: DataFrame, c: DataFrame, k: Int,
      on: Option[Column] = None): DataFrame = {
    val notSelf = col("c_id") =!= col("q_id")
    topK(q.join(c, on.fold(notSelf)(_ && notSelf))
        .select(col("q_id"), col("c_id"),
          cosine(col("qe"), col("ce"), col("qn"), col("cn")).as("cos")),
      col("q_id"), k, col("cos").desc, col("c_id"))
      .select(col("q_id"), col("c_id"), col("rnk"), pr6(col("cos")).as("cosine"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** LSH bucket id of an embedding column: sign bit per plane, packed.
    * private[graft] so the spec can assert bucket invariants directly.
    *
    * Unrolled to 8 explicit codegen'd DotProduct terms: the previous
    * `aggregate(transform(...))` formulation evaluated the inner dot
    * product through the interpreted lambda path (HOF functions do not
    * participate in whole-stage codegen), paying boxed evaluation for
    * all 8×64 multiply-adds per row. The unrolled sum is the same
    * exact arithmetic (independent integer terms; per-plane dot is the
    * identical left-to-right fold) fused into the generated code.
    */
  private[graft] def bucket(emb: Column): Column =
    (0 until nPlanes).map { p =>
      val plane = array(planes(p).map(lit): _*)
      when(dot(plane, emb) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  // ---- streaming index build + search (stream_embed_index) --------------

  /** The stored schema of `embeddings.parquet`: the explicit schema
    * both embedding streams read the staged replay with.
    */
  private val embSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
  }

  /** [[graft.ops.stagedArtifact]] over source `d`'s embeddings —
    * named `<name>_<source key>` and stamped with the source stamp,
    * [[ivfIndexFormat]] and `extra`: the freshness key every staged
    * vector index shares.
    */
  private def stagedEmb(s: SparkSession, d: String, name: String, extra: String = "")(
      build: String => Unit): String = {
    val src = s"$d/embeddings.parquet"
    graft.ops.stagedArtifact(s, s"${name}_${src.replaceAll("[^A-Za-z0-9.]", "_")}",
      s"${graft.ops.sourceStamp(s, src)}:$ivfIndexFormat$extra")(build)
  }

  /** Stream the embeddings corpus into a bucket-partitioned parquet
    * index and return its path. Per micro-batch the bucket id and norm
    * are map-side projections (no shuffle, no state store); the
    * checkpointed file sink gives exactly-once across restarts. The
    * directory layout `bkt=N/` means a literal-probe lookup reads 37
    * of 256 directories — partition pruning is the probe. Returns a
    * fresh path per call so concurrent drivers can't collide;
    * private[graft] so the spec can restart against one checkpoint.
    */
  private[graft] def buildStreamedIndex(s: SparkSession, d: String,
      fixedPath: Option[String] = None): DataFrame = {
    // tiny per-batch data: the sink itself is stateless, but the read-
    // back search below shuffles; 8 partitions is plenty
    val ss = graft.streaming.Streams.session(s)
    val idx = fixedPath.getOrElse(graft.ops.scratchRunDir(s, "emb_index"))
    val src = graft.streaming.Streams.replayDir(s, d, "embeddings", "stream_emb")
    graft.streaming.Streams.toParquet(ss.readStream.schema(embSchema).parquet(src)
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"), bucket(col("embedding")).as("bkt")),
      idx, "bkt")
    // partition-column type is inferred from directory names (int);
    // restore the bigint the probes XOR against
    ss.read.parquet(idx)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("bkt").cast("bigint").as("bkt"))
  }

  /** Multi-probe top-3 search over a bucket index (vec_id, embedding,
    * nrm, bkt) for queries below `qBound` — `sim_ann_multiprobe` over
    * the freshly bucketed corpus and `stream_embed_index` (queries 0-9)
    * over the streamed index run this one body.
    */
  private[graft] def searchStreamedIndex(b0: DataFrame, qBound: Int = 10): DataFrame = {
    val b = eagerCache(b0) // feeds probe explode + candidate side
    val probeArr = array(probeMasks.map(m => col("bkt").bitwiseXOR(lit(m))): _*)
    val q = b.filter(col("vec_id") < qBound)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), explode(probeArr).as("probe"))
    val c = b.select(col("vec_id").as("c_id"), col("embedding").as("ce"),
      col("nrm").as("cn"), col("bkt").as("cbkt"))
    cosineTopK(q, c, 3, Some(col("probe") === col("cbkt")))
  }

  // ---- DuckDB oracle fragments ------------------------------------------

  /** The oracle's stages: each the DuckDB twin of one Spark stage. */
  private object D {
    val planesSql: String =
      planes.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    def dot(a: String, b: String): String =
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"
    def norm(a: String): String = s"sqrt(${dot(a, a)})"
    /** bucket of `e` given a `planes` column in scope. */
    def bucket(e: String): String =
      s"""list_sum(list_transform(range(0, $nPlanes), p ->
         |  CASE WHEN list_sum(list_transform(range(1, ${dim + 1}),
         |         i -> planes[p + 1][i]::DOUBLE * $e[i]::DOUBLE)) >= 0
         |       THEN (1::BIGINT << p) ELSE 0 END))::BIGINT""".stripMargin

    /** [[microCol]]'s twin: micro-unit projection of a float list. */
    def micro(x: String): String =
      s"list_transform($x, x -> floor(x::DOUBLE * 1000000 + 0.5))"

    /** The micro-unit corpus CTE `name`(vec_id, `extra`…, qe). */
    def microRel(name: String = "e", extra: String = "",
        from: String = "embeddings"): String =
      s"$name AS (SELECT vec_id, $extra${micro("embedding")} AS qe FROM $from)"

    /** [[sqDist]]'s twin over two `n`-dim lists. */
    def sqd(a: String, b: String, n: Int = dim): String =
      s"list_sum(list_transform(range(1, ${n + 1}), j -> ($a[j] - $b[j]) * ($a[j] - $b[j])))"

    /** [[Vectors.sqd]]'s twin: [[sqd]] as a BIGINT. */
    def sqdInt(a: String, b: String): String = s"CAST(${sqd(a, b)} AS BIGINT)"

    /** [[subspaces]]' twin: `cols`, m and `vec`'s m-th slice as `out`. */
    def subspaces(cols: String, vec: String, out: String, from: String): String =
      s"SELECT $cols, m.m, $vec[m.m * 8 + 1 : m.m * 8 + 8] AS $out FROM $from, range(0, 8) m(m)"

    /** [[pqDist]] + [[pqEncode]]'s twin with `cb`(c, m, `cbVec`) in
      * scope: `sub`, `dist`(keys, m, c, d2), `enc`(keys, m, code).
      */
    def pqEncCtes(keys: String, src: String, vec: String, cbVec: String): String =
      s"""sub AS (${subspaces(keys, vec, "sv", src)}),
         |dist AS (SELECT $keys, sub.m, cb.c, ${sqd("sv", cbVec, 8)} AS d2
         |         FROM sub JOIN cb ON sub.m = cb.m),
         |enc AS (SELECT $keys, m, c AS code FROM
         |          (SELECT $keys, m, c,
         |                  row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
         |           FROM dist) t
         |        WHERE rn = 1)""".stripMargin

    /** The ADC table lookup of codes `enc` in query tables `qd`. */
    val codeMatch = "qd.m = enc.m AND qd.c = enc.code"

    val cellCodeJoin = s"enc JOIN qd ON qd.pcell = enc.cell AND $codeMatch"

    /** [[adc]]'s twin: `adist`(q_id, c_id, [carry,] ad) over `from`,
      * which joins `enc` to `qd` on [[codeMatch]].
      */
    def adist(from: String, where: String = "", carry: Option[String] = None): String =
      s"""adist AS (SELECT qd.q_id, enc.vec_id AS c_id, ${carry.fold("")(_ + ", ")}sum(qd.d2)::BIGINT AS ad
         |          FROM $from
         |          WHERE enc.vec_id <> qd.q_id$where
         |          GROUP BY 1, 2${carry.fold("")(_ => ", 3")})""".stripMargin

    /** [[exactRerank]]'s twin up to its cut: the top-32 shortlist `sl`
      * of `adist`, then `name`(cols…, `out`) = its exact L2 over `e`.
      */
    def refineCtes(cols: Seq[String], name: String, out: String): String = {
      val cs = cols.mkString(", ")
      s"""sl AS (SELECT $cs FROM
         |         (SELECT $cs,
         |                 row_number() OVER (PARTITION BY q_id ORDER BY ad, c_id) AS srn
         |          FROM adist) t
         |       WHERE srn <= 32),
         |$name AS (SELECT ${cols.map("sl." + _).mkString(", ")},
         |              ${sqdInt("q.qe", "c.qe")} AS $out
         |       FROM sl JOIN e q ON q.vec_id = sl.q_id
         |               JOIN e c ON c.vec_id = sl.c_id)""".stripMargin
    }

    /** The corpus-scaled IVF preamble: `eCtes` (from `e`), the
      * centroids `cent` at per-cell budget `pc`, their `cl` super layer
      * and the w = 2 rank `dd` of every vector.
      */
    def ivf(eCtes: String, pc: String = ivfPerCell.toString): String =
      s"""$eCtes,
         |${scaledLloydCentCtesAt(pc)},
         |${superLayerCtes("cl", "cent")},
         |${twoLevelRankCtes("cl", "e", "vec_id", "qe", "dd")}""".stripMargin

    /** [[quantRoute]]'s twin over the `dd` rank: `asg` and `probes`. */
    val ivfAsg = "asg AS (SELECT vec_id, cid AS cell FROM dd WHERE rn = 1)"
    val ivfProbes = """probes AS (SELECT vec_id AS q_id, cid AS pcell FROM dd
                      |           WHERE rn <= 2 AND vec_id < 20)""".stripMargin

    /** [[cellCand]]'s twin over `e` and the `dd` rank. */
    def cellCand(extra: String = ""): String =
      s"""cand AS (SELECT e.vec_id AS c_id, ${extra}e.qe AS ce2, dd.cid AS cell
         |         FROM e JOIN dd ON dd.vec_id = e.vec_id AND dd.rn = 1)""".stripMargin

    /** [[sqrtnPerCell]]'s twin over `n` in scope. */
    val sqrtnPc = "n // (4 * CAST(ceil(sqrt(n)) AS BIGINT))"

    /** [[topKSql]] as a CTE `name`(cols): no rank column; `inner` is
      * the select list ranked (default `cols`).
      */
    def topKCte(name: String, cols: String, src: String, k: Int, order: String,
        part: String = "q_id", inner: String = "",
        materialized: Boolean = false): String =
      s"""$name AS ${if (materialized) "MATERIALIZED " else ""}(SELECT $cols FROM (
         |          SELECT ${if (inner.isEmpty) cols else inner},
         |                 row_number() OVER (PARTITION BY $part ORDER BY $order) AS rn
         |          FROM $src) x$name WHERE rn <= $k)""".stripMargin
  }

  /** Shared Lloyd-refinement stage (sim_ivf_refined,
    * sim_ivf_refined_probe2 — factored per the same no-drift rule as
    * pqAdcChain/knnEdges): micro-unit-quantized corpus, seed
    * assignment via the broadcast expand + partial min(struct)
    * (cached — the M-step and the re-assignment both read it), and
    * the exact per-cell mean centroids. Returns
    * (asg0 = (vec_id, embedding, nrm, qe, cell), refined = (rcell, rce)).
    */
  private def lloydRefined(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import graft.functions.VectorMean
    val e = emb(s, d)
    val base = e.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"), microCol(col("embedding")).as("qe"))
    val cent0 = base.filter(col("vec_id").isin(ivfCentroidIds: _*))
      .select(col("vec_id").as("cid"), col("qe").as("ce"))
    val asg0 = eagerCache(nearest(base.join(broadcast(cent0)), Seq(col("vec_id")),
        d2(col("qe"), col("ce")), col("cid"), "embedding", "nrm", "qe")
      .select(col("vec_id"), col("embedding"), col("nrm"), col("qe"),
        col("best.cid").as("cell")))
    val refined = asg0.groupBy(col("cell"))
      .agg(VectorMean.centroid(col("qe").cast("array<float>")).as("rce"))
      .select(col("cell").as("rcell"), col("rce"))
    (asg0, refined)
  }

  /** Shared PQ/ADC chain (sim_pq_adc, sim_pq_rerank): micro-unit
    * vectors → 8×4 codebook from the seed vectors → per-(vector,
    * subspace, code) distances feeding BOTH the one-pass encoder
    * (argmin code) and the broadcast query distance tables → ADC
    * aggregate. Returns (e0 = micro-unit vectors, adist = (q_id, c_id,
    * ad)). Factored so both keys run the identical code path instead
    * of drifting copies.
    */
  private[graft] def pqAdcChain(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (e0, enc, qd) = pqParts(s, d)
    (e0, adc(enc, qd, byCell = false))
  }

  /** THE ADC aggregate (q_id, c_id, ad): codes (c_id, m, code[, cell])
    * look up the broadcast, query-sized tables (q_id, qm, c, d2[, pcell])
    * — `byCell` (every IVF serve) keeps a table to its probed cell,
    * `extra` is one more predicate below the aggregate — so the code
    * stream never shuffles before the partial aggregate.
    */
  private def adc(codes: DataFrame, qd: DataFrame, byCell: Boolean = true,
      extra: Option[Column] = None): DataFrame = {
    val code = col("m") === col("qm") && col("code") === col("c")
    val on = (if (byCell) code && col("cell") === col("pcell") else code) &&
      col("c_id") =!= col("q_id")
    codes.join(broadcast(qd), extra.fold(on)(on && _))
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("d2")).cast("bigint").as("ad"))
  }

  /** THE subspace split: per row and subspace m in 0..7, `keys`, m
    * (named `mAs`) and `vec`'s m-th 8-dim slice as `out`.
    */
  private def subspaces(df: DataFrame, keys: Seq[String], vec: String, out: String,
      mAs: String = "m"): DataFrame =
    df.select(keys.map(col) ++ Seq(explode(sequence(lit(0), lit(7))).as("m"), col(vec)): _*)
      .select(keys.map(col) ++ Seq(if (mAs == "m") col("m") else col("m").as(mAs),
        slice(col(vec), col("m") * 8 + 1, lit(8)).as(out)): _*)

  /** THE PQ distance table (keys…, m, c, d2) of `vecs`' slices against
    * the broadcast codebook `cb`(c, m, `cbVec`): its argmin is the
    * encoder, a query batch's rows are its ADC tables.
    */
  private def pqDist(vecs: DataFrame, keys: Seq[String], vec: String,
      cb: DataFrame, cbVec: String): DataFrame =
    subspaces(vecs, keys, vec, "sv").join(broadcast(cb), Seq("m"))
      .select(keys.map(col) ++ Seq(col("m"), col("c"),
        sqDist(col("sv"), col(cbVec)).as("d2")): _*)

  /** THE PQ encoder: per (vector, m) the [[nearest]] code of a
    * [[pqDist]] table — (c_id, keys.tail…, m, code), keys.tail
    * functionally dependent on vec_id.
    */
  private def pqEncode(dist: DataFrame, keys: Seq[String]): DataFrame =
    nearest(dist, (keys :+ "m").map(col), col("d2"), col("c"))
      .select((col("vec_id").as("c_id") +: keys.tail.map(col)) ++
        Seq(col("m"), col("best.c").as("code")): _*)

  /** The logical-delete set (c_id) of every tombstoned serve. */
  private def tombstones(e0: DataFrame): DataFrame =
    e0.filter(col("vec_id") % 17 === 3).select(col("vec_id").as("c_id"))

  /** Micro-unit integer projection of the embeddings table —
    * (vec_id, qe) with qe = floor(x·1e6 + 0.5) per component: the ONE
    * exact frame every PQ/IVF chain (and spec recompute) quantizes
    * from.
    */
  private[graft] def microVecs(s: SparkSession, d: String): DataFrame =
    microVecsL(s, d).drop("label")

  /** [[microVecs]] with the label column riding along — the SAME
    * quantization expression (the invariant lives here once), for the
    * keys whose predicate needs the attribute (mine_hard_negatives,
    * sim_ivf_filtered).
    */
  private[graft] def microVecsL(s: SparkSession, d: String): DataFrame =
    emb(s, d).select(col("vec_id"), col("label"), microCol(col("embedding")).as("qe"))

  /** The PQ building blocks behind [[pqAdcChain]] — (e0 = micro-unit
    * vectors via [[microVecs]], enc = (c_id, m, code) corpus codes,
    * qd = broadcastable (q_id, qm, c, d2) query distance tables) —
    * exposed separately so sim_ivf_pq can interpose the inverted-list
    * cell filter between the codes and the ADC aggregate without
    * re-deriving either side.
    */
  /** TRAINED per-subspace PQ codebook (round 15, replacing the fixed
    * seed-vector codebook): for each of the 8 subspaces, the 4 seed
    * slices are the k-means INIT, then ONE exact Lloyd step over a
    * deterministic 20% corpus sample (vec_id % 5 = 0, plus the seeds
    * so no code can go empty) — assign each sample subvector to its
    * nearest seed code (exact integer d2, argmin tie-broken by c),
    * take the per-(m, c) component mean, and round it back to the
    * integer lattice (floor(mean + 0.5)), the [[scaledLloydCent]]
    * determinism argument applied per subspace. `vecs` is any
    * (vec_id, <vecCol>) frame of integer-valued 64-dim vectors —
    * micro-unit embeddings for the flat codebook, residuals for the
    * residual one (FAISS trains sub-quantizers on exactly these two).
    * At 100 TB: the sample is a pushed-down filter scan, the E-step a
    * broadcast-32-row expand collapsed by a partial min(struct), the
    * M-step one map-side-combinable aggregate over 32×8 doubles.
    */
  private def trainedCodebook(vecs: DataFrame, vecCol: String,
      seedIds: Seq[Long], outCol: String): DataFrame = {
    val cCol = seedIds.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (sid, c)) => when(col("vec_id") === sid, lit(c)).otherwise(acc)
    }
    val cb0 = subspaces(vecs.filter(col("vec_id").isin(seedIds: _*))
      .select(cCol.as("c"), col(vecCol)), Seq("c"), vecCol, "ce0")
    val samp = subspaces(vecs
      .filter(col("vec_id") % 5 === 0 || col("vec_id").isin(seedIds: _*)),
      Seq("vec_id"), vecCol, "sv")
    val tasg = nearest(samp.join(broadcast(cb0), Seq("m")), Seq(col("vec_id"), col("m")),
        sqDist(col("sv"), col("ce0")), col("c"), "sv")
      .select(col("m"), col("best.c").as("c"), col("sv"))
    tasg.groupBy(col("c"), col("m"))
      .agg(graft.functions.VectorMean.centroid(
        col("sv").cast("array<float>")).as("mv"))
      .select(col("c"), col("m"),
        transform(col("mv"), x => floor(x + lit(0.5d))).as(outCol))
  }

  /** DuckDB twin of [[trainedCodebook]] as a CTE suffix — requires a
    * CTE `src`(vec_id, `v`) in scope, emits `cb`(c, m, `out`).
    */
  private def trainedCbCtes(seedIds: Seq[Long], src: String, v: String,
      out: String): String = {
    val seeds = seedIds.zipWithIndex
      .map { case (sid, c) => s"($c, $sid)" }.mkString(", ")
    val inList = seedIds.mkString("(", ", ", ")")
    s"""seeds(c, sid) AS (VALUES $seeds),
       |cb0 AS (${D.subspaces("s.c", s"r.$v", "ce0", s"seeds s JOIN $src r ON r.vec_id = s.sid")}),
       |tsub AS (${D.subspaces("vec_id", v, "sv", src)}
       |         WHERE vec_id % 5 = 0 OR vec_id IN $inList),
       |tasg AS (SELECT m, c, sv FROM (
       |           SELECT t.vec_id, t.m, c0.c, t.sv,
       |                  row_number() OVER (PARTITION BY t.vec_id, t.m
       |                    ORDER BY ${D.sqd("t.sv", "c0.ce0", 8)},
       |                      c0.c) AS rn
       |           FROM tsub t JOIN cb0 c0 ON c0.m = t.m) x
       |         WHERE rn = 1),
       |cbm AS (SELECT c, m, i, floor(sum(sv[i]) / count(*) + 0.5) AS mv
       |        FROM tasg, range(1, 9) t(i) GROUP BY c, m, i),
       |cb AS (SELECT c, m, list(mv ORDER BY i) AS $out FROM cbm GROUP BY c, m)""".stripMargin
  }

  /** Staged, stamped TRAINED QUANTIZERS for the whole IVF×PQ family —
    * the "train once, encode many" production reality (FAISS trains
    * its coarse quantizer and sub-quantizers once and ships them;
    * nothing retrains per query). One light artifact per corpus:
    * `centroids/` (scaledLloydCent — cells rows), `cbflat/` (the
    * trained flat PQ codebook, 32 rows), `cbres/` (the trained
    * residual codebook, 32 rows). Every chain — in-memory keys, index
    * builds, filtered serves — READS these; the Lloyd step and the
    * codebook training run once per (source stamp, format token),
    * not once per query. The in-memory-vs-persisted key distinction
    * stays where it belongs: in the CODES (recomputed vs stored
    * cell-partitioned lists), not the quantizers.
    */
  /** Staged, stamped REFINED CENTROIDS + two-level routing tables at
    * an arbitrary per-cell target — the quantizer-geometry artifact,
    * keyed on (corpus stamp, perCell, format token). r18 (VERDICT r17
    * #2): the √n production geometry (`sim_ivf_sqrtn`) previously
    * retrained its Lloyd quantizer on EVERY call — the anchor's
    * heaviest key, pure per-run training cost a deployment would
    * stage — while the n/125 chain amortized through
    * [[stagedIvfQuant]]. Both geometries now train through THIS
    * artifact: one Lloyd pass per (corpus, perCell), every later call
    * serve-only. Layout: `centroids/` = (cid, ce), `supers/` =
    * (sid, sce), `children/` = (cid, sid) — [[dirLayer]]'s contract.
    */
  private[graft] def stagedIvfCent(s: SparkSession, d: String,
      perCell: Long): String =
    stagedEmb(s, d, s"ivfcent_$perCell") { stage =>
      // the Lloyd E-step routes through the SHARED staged seed layer
      // (r17) — the same artifact the knn-graph build reads, so the
      // geometries not only use one formula, they use one LAYER
      val cent = eagerCache(scaledLloydCent(microVecs(s, d), perCell,
        seedLay = Some(seedLayer(s, d, perCell))))
      cent.coalesce(1).write.mode("overwrite").parquet(s"$stage/centroids")
      // the TWO-LEVEL routing tables, derived ONCE per geometry and
      // staged with the centroids (r16 review: every serve was
      // re-deriving the layer per call)
      writeLayer(superLayer(cent), stage)
    }

  /** Stage a [[superLayer]] as `supers/` (sid, sce) + `children/`
    * (cid, sid) under `stage` — [[dirLayer]]'s contract.
    */
  private def writeLayer(layer: (DataFrame, DataFrame), stage: String): Unit = {
    layer._1.coalesce(1).write.mode("overwrite").parquet(s"$stage/supers")
    layer._2.select(col("cid"), col("sid")).coalesce(1)
      .write.mode("overwrite").parquet(s"$stage/children")
  }

  /** Copy a staged routing layer into another artifact: every
    * artifact ships [[stagedIvfCent]]'s one derivation.
    */
  private def copyLayer(s: SparkSession, from: String, to: String): Unit =
    Seq("supers", "children").foreach(t =>
      s.read.parquet(s"$from/$t").coalesce(1).write.mode("overwrite").parquet(s"$to/$t"))

  private[graft] def stagedIvfQuant(s: SparkSession, d: String): String =
    stagedEmb(s, d, "ivfquant") { stage =>
      val e0 = microVecs(s, d)
      // centroids + routing tables COPY from the geometry artifact
      // (one Lloyd training shared with every other consumer of the
      // n/125 geometry); the quantizer artifact stays self-contained —
      // downstream layout unchanged, consumers keep reading one dir
      val centDir = stagedIvfCent(s, d, ivfPerCell)
      val cent = eagerCache(s.read.parquet(s"$centDir/centroids"))
      cent.coalesce(1).write.mode("overwrite").parquet(s"$stage/centroids")
      copyLayer(s, centDir, stage)
      val (scent, chl) = dirLayer(s, centDir)
      trainedCodebook(e0, "qe", pqSeedIds, "ce").coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/cbflat")
      val asg = coarseRanked(e0, cent, nprobe = 1, layer = Some((scent, chl)))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cid").as("cell"))
      // no broadcast hint on cent: it grows ∝ n (cells = n/125) —
      // Catalyst broadcasts it while small and shuffle-joins on cell
      // past that, which is the scalable shape for an equality fetch
      val resv = e0.join(asg, Seq("vec_id"))
        .join(cent, col("cell") === col("cid"))
        .select(col("vec_id"), col("cell"),
          zip_with(col("qe"), col("ce"), (x, y) => x - y).as("res"))
      trainedCodebook(resv, "res", pqResSeedIds, "cv").coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/cbres")
    }

  /** The staged two-level routing tables of a quantizer/index dir —
    * (scent = (sid, sce), chl = (cid, ce, sid) with ce re-joined from
    * the dir's own centroids). Reading beats re-deriving: no count
    * action, no window, no per-call Lloyd pass — and one derivation
    * means serve, build, and stream routing cannot drift.
    */
  private def dirLayer(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    readLayer(s, dir, s.read.parquet(s"$dir/centroids"))

  /** [[writeLayer]]'s reader, children re-joined to `vecs`(cid, ce). */
  private def readLayer(s: SparkSession, dir: String,
      vecs: DataFrame): (DataFrame, DataFrame) =
    (s.read.parquet(s"$dir/supers"), s.read.parquet(s"$dir/children")
      .join(vecs, Seq("cid")).select(col("cid"), col("ce"), col("sid")))

  private def quantLayer(s: SparkSession, d: String): (DataFrame, DataFrame) =
    dirLayer(s, stagedIvfQuant(s, d))

  /** Staged, stamped SEED-frame super layer — the [[superLayer]] over
    * the micro-unit stride seeds at `perCell`, derived ONCE per
    * (corpus stamp, perCell) and shared by every build that routes
    * against the raw seed frame: the IVF quantizer's Lloyd E-step
    * ([[scaledLloydCent]]) and the knn proximity graph
    * ([[stagedKnnGraph]]) previously each re-derived this layer over
    * the SAME seed rows (r16's knn_graph_scaled paid ~1.2 s idle
    * re-running the count + idx window + super Lloyd pass the
    * quantizer build had already done — VERDICT r16 queue item 5).
    * Layout: `supers/` = (sid, sce); `children/` = (cid, sid) — child
    * seed VECTORS are not copied, they re-join from the corpus at
    * read (a cid IS a seed vec_id).
    */
  private[graft] def stagedSeedLayer(s: SparkSession, d: String,
      perCell: Long): String =
    stagedEmb(s, d, s"seedlayer_$perCell") { stage =>
      val seeds = strideSeedRows(microVecs(s, d), perCell, "stagedSeedLayer")
        .select(col("vec_id").as("cid"), col("qe").as("ce"))
      writeLayer(superLayer(seeds), stage)
    }

  /** Read [[stagedSeedLayer]] back as (scent, chl), the child seed
    * vectors re-joined from the corpus (micro-units — the frame the
    * layer was derived over).
    */
  private[graft] def seedLayer(s: SparkSession, d: String,
      perCell: Long): (DataFrame, DataFrame) =
    readLayer(s, stagedSeedLayer(s, d, perCell),
      microVecs(s, d).select(col("vec_id").as("cid"), col("qe").as("ce")))

  private def quantCent(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${stagedIvfQuant(s, d)}/centroids")
  private def quantCbFlat(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${stagedIvfQuant(s, d)}/cbflat")
  private def quantCbRes(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${stagedIvfQuant(s, d)}/cbres")

  private[graft] def pqParts(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val e0 = microVecs(s, d)
    val dist = pqDist(e0, Seq("vec_id"), "qe", quantCbFlat(s, d), "ce")
    // `dist` is deliberately NOT cached (was eagerCache): the only
    // other consumer is the query side, whose vec_id < 20 pushdown
    // recomputes a 20-vector sliver from the pruned scan —
    // materializing 30M rows to save that sliver was a net loss.
    val enc = pqEncode(dist, Seq("vec_id"))
    val qd = dist.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("m").as("qm"), col("c"), col("d2"))
    (e0, enc, qd)
  }

  /** multimodal_phash's bucketing stage: corpus + re-encoded plants →
    * PRODUCTION-WIDTH 64-bit perceptual hash held as its four
    * pigeonhole 16-bit blocks `b0..b3` (the pHash/PDQ deployment
    * shape — 65,536 buckets per block index instead of the former
    * 16-bit/8-bit-block toy, whose n²/256 candidate space saturated at
    * ~1e5 rows, SCALE.md). Block k's 16 bits are the high bits of md5("k:" || text)'s 16 bytes (a
    * deterministic stand-in for DCT-sign bits — the container has no
    * codecs; the SEARCH machinery is the point). The hash never
    * materializes as one 64-bit value: hamming distances sum the four
    * per-block XOR popcounts, which keeps every number signed-safe in
    * both engines. Cached — both sides of all four block self-joins
    * read it.
    */
  private[graft] def phashBlocks(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d).select(col("doc_id"), col("text"))
    def hk(k: Int) = md5(concat(lit(s"$k:"), col("text")))
    val base = t.select(col("doc_id"), hk(0).as("h0"), hk(1).as("h1"),
      hk(2).as("h2"), hk(3).as("h3"))
    // re-encode plant: ONE bit of the 64-bit hash flips — the high bit
    // of block 3's last byte (+128 mod 256) → hamming exactly 1
    val reenc = base.select((col("doc_id") + 30000).as("doc_id"),
      col("h0"), col("h1"), col("h2"),
      concat(substring(col("h3"), 1, 30),
        lpad(lower(conv(
          ((conv(substring(col("h3"), 31, 2), 16, 10).cast("long") + 128) % 256)
            .cast("string"), 10, 16)), 2, "0")).as("h3"))
    def blockOf(h: Column) = aggregate(
      transform(sequence(lit(0), lit(15)), i =>
        when(conv(h.substr(i * 2 + 1, lit(2)), 16, 10)
            .cast("long") >= 128,
          // 2^i exact in doubles for i ≤ 15; shiftleft only takes Int
          pow(lit(2.0), i).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
    eagerCache(base.unionByName(reenc)
      .select(col("doc_id"), blockOf(col("h0")).as("b0"), blockOf(col("h1")).as("b1"),
        blockOf(col("h2")).as("b2"), blockOf(col("h3")).as("b3")))
  }

  /** dedup_media's fingerprint + keeper aggregation over an arbitrary
    * (doc_id, payload) frame. Payload bytes never reach the shuffle:
    * only the 32-char fp, ids, and lengths do.
    */
  private[graft] def mediaDedup(media: DataFrame): DataFrame =
    media
      .select(col("doc_id"), md5(hex(col("payload"))).as("media_fp"),
        length(col("payload")).cast("bigint").as("byte_len"))
      .groupBy(col("media_fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"),
        min(col("byte_len")).as("byte_len"))
      .orderBy(col("keeper"))

  /** knn_graph's edge chain (also the PageRank input): IVF cell
    * assignment, in-cell cosine candidates, per-node top-3 —
    * (a_id, b_id, rnk, cos). Shared so graph consumers cannot drift
    * from the oracled edge definition.
    */
  private def knnEdges(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    knnEdgesOver(e, fixedCent(e))
  }

  /** The fixed-8-seed centroid frame (cid, ce) over raw floats. */
  private def fixedCent(e: DataFrame): DataFrame =
    e.filter(col("vec_id").isin(ivfCentroidIds: _*))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))

  /** Flat nearest-cell assignment of the raw-float corpus `e` to `cent`
    * through [[nearest]] (r22, guide §2.3 "aggregate before you
    * shuffle": the window form shuffled + sorted the FULL
    * cells-per-vector expand with the embeddings aboard; the hash
    * aggregate collapses it map-side to n rows) — cached
    * (vec_id, embedding, nrm, cell); both sides of a cell join read it.
    */
  private def flatAssign(e: DataFrame, cent: DataFrame): DataFrame =
    eagerCache(nearest(e.join(broadcast(cent)), Seq(col("vec_id")),
        d2(col("embedding"), col("ce")), col("cid"), "embedding")
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"),
        col("best.cid").as("cell")))

  /** knn edges with the cell count SCALED TO THE CORPUS — the
    * production dial the fixed-8-seed key lacks (SemDeDup/IVF: cells
    * grow ∝ n so per-cell size — and with it per-row candidate work —
    * stays FLAT as the corpus grows; SCALE.md's round-13 knn table
    * measured the law). cells = max(8, ⌈n/perCell⌉), centroid seeds
    * picked by the deterministic stride rule (every ⌊n/cells⌋-th vec_id — the
    * reproducible stand-in for a sampled/k-means seeding, exactly as
    * the fixed id list was; the oracle replicates the same integer
    * formula). `perCell` is the per-cell size target (the oracled key
    * always serves the default 125; VectorOpsSpec passes other
    * targets explicitly).
    */
  private[graft] def knnEdgesScaled(s: SparkSession, d: String,
      perCell: Long = 125L, degree: Int = 3): DataFrame = {
    val e = emb(s, d)
    knnEdgesOver(e, scaledKnnCentroids(e, perCell), degree, twoLevel = true,
      layer = Some(seedLayer(s, d, perCell)))
  }

  /** The corpus-sized centroid rule of [[knnEdgesScaled]] — exposed so
    * VectorOpsSpec and the staged knn graph read the OPERATOR's
    * centroid set, not a copy that could drift.
    */
  /** THE stride-seed rule (one definition for the knn-graph and the
    * IVF×PQ quantizer geometries — the two must never fork): cells =
    * max(8, ⌈n/perCell⌉), stride = max(1, n ÷ cells), seeds = rows at
    * the stride multiples below stride·cells. One metadata-cheap
    * count sizes the index (the scalar a production build reads from
    * table stats before seeding k-means); a second tiny count fails
    * loudly on non-dense id spaces, where the rule would silently
    * under-seed (possibly to zero) while the formula-mirroring oracle
    * hash-matched the degradation. Degenerate corpora (n < cells)
    * would stride to 0 — ANSI mode makes vec_id % 0 a runtime error
    * (DuckDB NULLs it); the clamp to 1 degrades both engines to the
    * same dense seeding.
    */
  private def strideSeedRows(df: DataFrame, perCell: Long,
      caller: String): DataFrame = {
    val n = df.count()
    val cells = math.max(8L, (n + perCell - 1) / perCell)
    val stride = math.max(1L, n / cells)
    val seeds = df.filter(col("vec_id") % stride === 0 &&
      col("vec_id") < lit(stride * cells))
    val expected = math.min(cells, (n + stride - 1) / stride)
    val got = seeds.count()
    require(got == expected,
      s"$caller: picked $got seeds, expected $expected — " +
        "vec_id space is not dense 0-based; re-key ids before indexing")
    seeds
  }

  private[graft] def scaledKnnCentroids(e: DataFrame, perCell: Long): DataFrame =
    strideSeedRows(e, perCell, "scaledKnnCentroids")
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))

  /** micro-unit quantization of a float-vector column — the
    * elementwise exact transform shared by [[microVecs]] and the
    * two-level knn assignment (one formula, no fork).
    */
  private def microCol(c: Column): Column =
    transform(c, x => floor(x.cast("double") * lit(1000000d) + lit(0.5d)))

  /** The edge chain body shared by [[knnEdges]] (fixed 8 seeds) and
    * [[knnEdgesScaled]] (corpus-scaled cell count): assignment to the
    * given centroids, in-cell cosine candidates, per-node top-k.
    * `twoLevel = false` is the fixed-8-seed flat rank (8 cells is
    * O(1) — a hierarchy over it would be noise); `twoLevel = true` is
    * the corpus-scaled path, which with cells ∝ n must NOT rank every
    * vector against every centroid: the assignment routes through
    * [[superLayer]] in MICRO-UNITS (float means aren't
    * order-independent across engines; lattice integers are — the
    * scaledLloydCent parity rule), while the in-cell cosine stays on
    * the raw floats (elementwise per-row arithmetic, parity-safe).
    */
  private[graft] def knnEdgesOver(e: DataFrame, cent: DataFrame,
      degree: Int = 3, twoLevel: Boolean = false,
      layer: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val asg = if (!twoLevel) flatAssign(e, cent)
    else {
      val (scent, chl) = layer.getOrElse(superLayer(
        cent.select(col("cid"), microCol(col("ce")).as("ce"))))
      eagerCache(twoLevelRanked(
          e.select(col("vec_id"), microCol(col("embedding")).as("qe")),
          "vec_id", "qe", scent, chl)
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cid").as("cell"))
        .join(e.select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("nrm")), Seq("vec_id"))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cell")))
    }
    val a = asg.select(col("vec_id").as("a_id"), col("embedding").as("ae"),
      col("nrm").as("an"), col("cell"))
    val b = asg.select(col("vec_id").as("b_id"), col("embedding").as("be"),
      col("nrm").as("bn"), col("cell").as("bcell"))
    // top-degree by (cos DESC, b_id) as ONE map-side-combinable
    // BeamTopW pass over the in-cell candidate expand (r22): the
    // window form shuffled + sorted all ~n·|cell| scored pairs (the
    // dominant shuffle of every knn-graph consumer); the aggregate
    // collapses each a_id's candidates to its ≤ degree best before
    // the exchange. Keys are (-cos, b_id): BeamTopW orders ascending,
    // and double negation is an exact sign-bit flip, so the kept set,
    // the tie-break (equal cos → smaller b_id) and the emitted cos
    // values are bit-identical to the window's (cos DESC, b_id) rank;
    // rnk = 1 + position in the best-first array. An embedding with a
    // NaN component scores NaN cosines, which `cos DESC` ranks FIRST
    // (NaN sorts above every number in both engines) but BeamTopW
    // would rank last as -NaN: their key is -∞ instead; a zero-norm
    // embedding scores NULL cosines ([[cosine]]), which `cos DESC`
    // ranks LAST: their key is +∞ (cos is otherwise finite). Both are
    // mapped back on the way out. (Dedup-by-id inside BeamTopW is a
    // no-op here: b_id is unique within an a_id's cell.)
    val nanFirst = lit(Double.NegativeInfinity)
    val nullLast = lit(Double.PositiveInfinity)
    eagerCache(
      a.join(b, col("cell") === col("bcell") && col("b_id") =!= col("a_id"))
        .select(col("a_id"), col("b_id"),
          cosine(col("ae"), col("be"), col("an"), col("bn")).as("cos"))
        .groupBy(col("a_id"))
        .agg(graft.functions.BeamTopW.topPairs(degree)(
          when(isnan(col("cos")), nanFirst).when(col("cos").isNull, nullLast)
            .otherwise(-col("cos")), col("b_id")).as("ps"))
        .select(col("a_id"), posexplode(col("ps")))
        .select(col("a_id"), col("col._2").as("b_id"),
          (col("pos") + 1).cast("bigint").as("rnk"),
          when(col("col._1") === nanFirst, lit(Double.NaN))
            .when(col("col._1") === nullLast, lit(null).cast("double"))
            .otherwise(-col("col._1")).as("cos")))
  }

  /** HNSW-style greedy beam search over the corpus-scaled knn graph
    * (`sim_graph_beam`) — the graph-based ANN serve that complements
    * the IVF route: start from the quantizer's seed entry points,
    * keep the best `beamW` candidates by exact micro-unit L2, and for
    * `rounds` unrolled steps expand the beam's out-edges (the stored
    * top-3 neighbor lists), re-scoring and re-cutting — the
    * single-layer core of HNSW's search loop (Malkov & Yashunin 2018
    * §4, greedy beam over a proximity graph; layers only shrink the
    * entry set, which here is the cells-sized seed list standing in
    * for the upper layers). Everything past the entry scoring is
    * query-sized: candidates per query are bounded by
    * cells + rounds·beamW·3, every join broadcasts the candidate
    * side into the corpus vector fetch, and the only corpus-scaled
    * work is the knn edge build — a stored artifact in production.
    * [[beamParts]] is the serve.
    */
  /** Per-bucket row target of the POINT-FETCH bucket layout (r19):
    * bMod = max(16, ⌈n/125⌉) buckets of ~125 rows each — the same
    * n/125 directory-count class as the inverted lists' cells,
    * nested under the identical shard = bucket % 256 layer so
    * serve-time listing is bounded by the probed shards. A fetch of
    * F ids reads ≤ F bucket directories (~125·F rows) regardless of
    * corpus size — rows-read per fetch stays FLAT as n grows because
    * the bucket count grows with n.
    */
  private[graft] val vecBucketRows = 125L

  /** The shared point-fetch bucket modulus for source `d` — derived
    * from the corpus row count (a parquet-footer read), so the edge
    * buckets and the vector buckets of one source always agree.
    */
  private[graft] def vecBucketMod(s: SparkSession, d: String): Long =
    math.max(16L, (emb(s, d).count() + vecBucketRows - 1) / vecBucketRows)

  private[graft] val bucketVecSchema = "vec_id BIGINT, qe ARRAY<BIGINT>, shard INT, bucket BIGINT"
  private val bucketEdgeSchema = "a_id BIGINT, b_id BIGINT, shard INT, bucket BIGINT"

  /** Staged, stamped BUCKET-PARTITIONED copy of the micro-unit corpus
    * vectors — `vectors/shard=S/bucket=K/` with
    * bucket = vec_id % bMod — the point-fetch side table every serve
    * path with a query-sized id set reads instead of scanning the
    * corpus: the beam serve's per-round frontier scoring and the
    * exact-re-rank shortlist fetch (r18 VERDICT #1/#3 — both
    * previously joined a broadcast shortlist against the FULL corpus
    * scan, i.e. 100 TB of floats read per query batch for ≤
    * 32·|Q| point fetches). A fetch collects the id set's bucket
    * residues (≤ min(|ids|, bMod) integers — the same driver-value
    * class as the nprobe cell plans) and reads ONLY those bucket
    * directories via literal PartitionFilters ([[readBucketed]], the
    * readLists pattern). Build cost is one corpus-sized shuffle+write
    * per source version — the FAISS analogy is storing the raw
    * vectors alongside the index for its refine stage.
    */
  private[graft] def stagedVecBuckets(s: SparkSession, d: String): (String, Long) = {
    val bMod = vecBucketMod(s, d)
    val dir = stagedEmb(s, d, "vecbuckets", s":b$bMod") { stage =>
      // bucket-keyed repartition before the write: one file per
      // bucket regardless of build parallelism (the inverted-list
      // builders' move)
      microVecs(s, d)
        .withColumn("bucket", pmod(col("vec_id"), lit(bMod)))
        .withColumn("shard", listShard(col("bucket")))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("shard", "bucket")
        .parquet(s"$stage/vectors")
    }
    (dir, bMod)
  }

  /** THE pruned bucket read behind every point fetch: given the id
    * set's bucket residues, return those buckets' rows touching only
    * their storage — the literal IN list becomes the scan's
    * PartitionFilters, and the LISTING is restricted to the probed
    * shard subtrees (the [[readLists]] contract, generalized over the
    * stored schema).
    */
  private[graft] def readBucketed(s: SparkSession, path: String,
      schema: String, buckets: Array[Long]): DataFrame = {
    val wantDirs = buckets
      .map(b => (((b % listShardMod) + listShardMod) % listShardMod).toInt)
      .distinct.sorted
      .map(k => s"$path/shard=$k")
    val shardDirs = wantDirs.filter(p => graft.ops.hfsIsDir(s, p))
    // EVERY wanted shard dir must exist, not just one (r21, closing the
    // r20 advice): requested buckets are residues of ids that exist in
    // the corpus, so each wanted shard holds ≥ 1 row by construction —
    // a missing dir is a torn or partially-listed artifact (path typo,
    // store listing failure), and reading the surviving shards would
    // silently drop the missing buckets' rows and return a plausible
    // but incomplete result. (The r19 any-dir guard already stopped the
    // silent full-corpus fallback; this names the exact holes.)
    val missing = wantDirs.filterNot(shardDirs.contains)
    require(buckets.isEmpty || missing.isEmpty,
      s"staged shard dirs missing under $path: " +
        s"${missing.take(8).mkString(",")} (wanted ${wantDirs.length} " +
        s"shards for buckets ${buckets.take(8).mkString(",")}…) — " +
        "staged artifact torn or unlisted")
    val r = s.read.option("basePath", path).schema(schema)
    // EMPTY fetch set: the root read with the explicit schema degrades
    // to 0 rows instead of a missing-path error — readLists' own edge
    // case
    (if (shardDirs.isEmpty) r.parquet(path)
     else r.parquet(shardDirs.toIndexedSeq: _*))
      .filter(col("bucket").isin(buckets.map(java.lang.Long.valueOf): _*))
  }

  /** Staged, stamped knn PROXIMITY GRAPH — the persisted artifact a
    * graph-ANN deployment serves from (HNSW persists exactly this:
    * per-node neighbor lists plus the upper layers). `edges/` =
    * (a_id, b_id) from the corpus-scaled edge chain at the given
    * degree, PARTITIONED by (shard = bucket % 256,
    * bucket = a_id % bMod) so a beam round's frontier reads only its
    * own buckets' neighbor lists (r19 — previously a flat parquet the
    * serve re-scanned in full every round); `supers/` (sid, sce) +
    * `children/` (cid, sid, che) = the [[superLayer]] over the
    * micro-unit seed frame — the genuine HNSW upper layer the beam
    * serve descends through, with the child seeds' vectors stored
    * ALONGSIDE (r19) so the entry scoring reads zero corpus. Built
    * once per (source stamp, degree, perCell, format); the ONE
    * centroid derivation feeds both the cell geometry and the entry
    * layer, so they cannot fork; the bucket modulus is the SHARED
    * [[stagedVecBuckets]] one, so a round's frontier residues drive
    * both the edge read and the vector fetch.
    */
  private[graft] def stagedKnnGraph(s: SparkSession, d: String,
      degree: Int = 3, perCell: Long = ivfPerCell): String = {
    val bMod = stagedVecBuckets(s, d)._2
    stagedEmb(s, d, s"knngraph_${degree}_$perCell", s":bkt$bMod") { stage =>
      val e = emb(s, d)
      val cent = scaledKnnCentroids(e, perCell)
      // the genuine HNSW upper layer (replacing r15's all-cells entry
      // list): the √cells super-centroids + the (cid → sid) child map
      // over the MICRO-UNIT seed layer — read from the SHARED staged
      // seed-layer artifact (r17: the quantizer's Lloyd E-step runs
      // over the SAME seed frame, so one derivation feeds both), then
      // copied alongside the edges so the graph dir stays the
      // self-contained artifact a beam serve descends through
      // (super → child seeds → graph)
      val lay = seedLayer(s, d, perCell)
      knnEdgesOver(e, cent, degree, twoLevel = true, layer = Some(lay))
        .select(col("a_id"), col("b_id"))
        .withColumn("bucket", pmod(col("a_id"), lit(bMod)))
        .withColumn("shard", listShard(col("bucket")))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("shard", "bucket")
        .parquet(s"$stage/edges")
      lay._1.coalesce(1).write.mode("overwrite").parquet(s"$stage/supers")
      // children ride with their vectors (che = the seed's micro-unit
      // frame, exactly what the old serve re-fetched from the corpus)
      lay._2.select(col("cid"), col("sid"), col("ce").as("che")).coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/children")
    }
  }

  /** One graph-beam serve, returning the final beam. `reads`, when
    * supplied, collects each round's (pruned edge read, pruned vector
    * read) so VectorOpsSpec can count the rows/files a round actually
    * touches.
    *
    * PRODUCTION DIALS (r20, VERDICT r19 #1 — the IVF route served
    * attribute filters and tombstone deletes; the graph route had
    * neither):
    *
    *  - `tomb = true` anti-joins the `vec_id % 17 = 3` tombstone set
    *    (the same delete universe as `sim_ivf_pq_deletes`) BELOW the
    *    expansion — below the entry scoring and below each round's
    *    neighbor set, before the vector fetch — so a deleted vector
    *    never enters the navigation beam, never gets its floats
    *    fetched, and can never surface: a consent-revoked vector is
    *    unreachable on EVERY route, and stricter than HNSW's
    *    soft-delete (which still navigates through deleted nodes
    *    until compaction).
    *  - `labelMod = Some(m)` serves a LABEL-FILTERED batch (query q
    *    wants label (q_id%m + 1)%m; candidate label = c_id % m — the
    *    vec_id-derived FAISS id-encodes-metadata pattern, zero stored
    *    columns). The label predicate sits INSIDE the per-round
    *    scoring, below a dedicated BeamTopW cut: every scored
    *    candidate that matches feeds a per-query FILTERED ACCUMULATOR
    *    (top-beamW by (d2, c_id), updated every round), which is what
    *    the serve returns. The NAVIGATION beam stays label-UNfiltered
    *    — non-matching nodes still navigate (the hnswlib/FAISS
    *    IDSelector pattern: restricting traversal to the induced
    *    subgraph of a 1/m-selectivity label would cut connectivity to
    *    ~degree/m edges per node) — they just never enter results.
    *    Post-filtering the final beam instead would under-return:
    *    beamW members × 1/m selectivity ≈ beamW/m < k matching
    *    survivors (the same argument as the filtered-IVF keys;
    *    spec-demonstrated).
    *
    * Defaults (None/false) leave the three unfiltered dials'
    * round-for-round plan — and their oracle hashes — untouched.
    * When `labelMod` is set the returned beam IS the filtered
    * accumulator.
    */
  private[graft] def beamParts(s: SparkSession, d: String, qBound: Long = 20L,
      beamW: Int = 8, rounds: Int = 3, degree: Int = 8,
      perCell: Long = ivfPerCell,
      reads: Option[scala.collection.mutable.Buffer[(DataFrame, DataFrame)]] = None,
      labelMod: Option[Int] = None, tomb: Boolean = false,
      qFrame: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    val e0 = microVecs(s, d)
    // serve from the PERSISTED graph (built once, stamped) — the
    // serve path never re-derives edges, supers, or the child map.
    // degree defaults to 8: the measured navigable dial (SCALE.md —
    // the degree-3 graph beams to 0.117 recall on planted clusters
    // where degree-8 reaches 0.717 at sub-cell-scan budget; degree is
    // HNSW's M lever and production serves the navigable graph).
    val g = stagedKnnGraph(s, d, degree, perCell)
    val (vdir, bMod) = stagedVecBuckets(s, d)
    // queries: corpus rows below qBound by default, or an EXTERNAL
    // (q_id, qq) micro-unit frame (r20, the wire serve) — external
    // ids need not exist in the corpus; everything downstream is
    // already id-agnostic (c_id =!= q_id simply never trips)
    val q = qFrame.getOrElse(e0.filter(col("vec_id") < qBound)
      .select(col("vec_id").as("q_id"), col("qe").as("qq")))
    // logical deletes below the expansion: the delete-set-sized
    // broadcast anti-join the IVF route already serves
    // (sim_ivf_pq_deletes) — candidates drop BEFORE scoring and
    // before the float fetch, so a deleted vector is unreachable
    val tsB = if (tomb) Some(broadcast(tombstones(e0))) else None
    def dropTombs(df: DataFrame): DataFrame =
      tsB.fold(df)(t => df.join(t, Seq("c_id"), "left_anti"))
    // the label predicate, INSIDE the per-round scoring: a scored
    // candidate matching its query's wanted label enters the filtered
    // accumulator — below that accumulator's own BeamTopW cut
    def matching(sc: DataFrame, m: Int): DataFrame =
      sc.join(broadcast(q.select(col("q_id"),
          pmod(pmod(col("q_id"), lit(m.toLong)) + 1, lit(m.toLong)).as("wl"))),
          Seq("q_id"))
        .filter(pmod(col("c_id"), lit(m.toLong)) === col("wl"))
        .select(col("q_id"), col("c_id"), col("d2"))
    // PER-ROUND STATE = a leaf DataFrame over a persisted tuple RDD
    // (r19, replacing r18's lazy localCheckpoint): the SQL plan is cut
    // at the RDD leaf, so Catalyst analysis stays O(1) per round (the
    // r18 fix's point — without truncation the plan doubles per round
    // and the wide dial's wall clock was 2^rounds driver-side
    // re-analysis), while the RDD itself KEEPS its lineage — a lost
    // executor recomputes the blocks instead of failing the serve
    // (localCheckpoint's documented caveat, r18 advice), and retired
    // rounds can be unpersisted (below) without breaking later reads.
    // Each round's state is ≤ beamW rows/query — query-sized.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def leaf3(df: DataFrame)
        : (DataFrame, org.apache.spark.rdd.RDD[(Long, Long, Long)]) = {
      val r = df.select(col("q_id"), col("c_id"), col("d2"))
        .as[(Long, Long, Long)].rdd.persist(lvl)
      (r.toDF("q_id", "c_id", "d2"), r)
    }
    def leaf2(df: DataFrame)
        : (DataFrame, org.apache.spark.rdd.RDD[(Long, Long)]) = {
      val r = df.select(col("q_id"), col("c_id"))
        .as[(Long, Long)].rdd.persist(lvl)
      (r.toDF("q_id", "c_id"), r)
    }
    // an id set's bucket residues: ≤ min(|ids|, bMod) integers — the
    // same driver-value class as the nprobe cell plans (never corpus
    // data; ids are nonnegative, so plain % is pmod)
    def residues(ids: org.apache.spark.rdd.RDD[Long]): Array[Long] =
      ids.map(_ % bMod).distinct().collect().sorted
    // ONE-SHUFFLE beam cut (r18): dedup-by-id + top-beamW fold in a
    // single map-side-combinable aggregate (BeamTopW) — the
    // groupBy(q,c).min + row_number window form paid TWO exchanges
    // per round (a cluster barrier each; stage-scheduling-bound at
    // local[32] on the wide dial). Exact under the duplicate-carries-
    // identical-d2 contract (see BeamTopW doc); ties (d2, c_id) as
    // before, so the oracle's row_number twin is unchanged.
    def topB(sc: DataFrame): DataFrame =
      sc.groupBy(col("q_id"))
        .agg(graft.functions.BeamTopW.topPairs(beamW)(
          col("d2").cast("double"), col("c_id")).as("ps"))
        .select(col("q_id"), explode(col("ps")).as("p"))
        .select(col("q_id"), col("p._2").as("c_id"),
          col("p._1").cast("bigint").as("d2"))
    // ENTRY DESCENT through the staged super layer (r16 — replacing
    // the all-cells crossJoin): each query ranks the √cells
    // super-centroids (broadcast), routes to its TOP-2 supers (the
    // same multi-assign rule as twoLevelRanked), and scores only
    // those supers' child seeds exactly (children ARE corpus vectors
    // at the seed ids, stored WITH the children since r19, so the
    // entry scoring reads zero corpus) — the multi-layer HNSW
    // descent, entry work O(√cells) per query instead of O(cells).
    val scent = s.read.parquet(s"$g/supers")
    val chl = s.read.parquet(s"$g/children")
    val routed = q.join(broadcast(scent))
      .groupBy(col("q_id"))
      .agg(graft.functions.MinPairW.topW(2)(
          d2(col("qq"), col("sce")), col("sid")).as("sids"),
        first(col("qq")).as("qq"))
      .select(col("q_id"), col("qq"), explode(col("sids")).as("sid"))
    val ent = dropTombs(routed.join(chl, Seq("sid"))
      .filter(col("cid") =!= col("q_id"))
      .select(col("q_id"), col("cid").as("c_id"),
        sqd(col("qq"), col("che")).as("d2")))
    var (beamLeaf, beamRdd) = leaf3(topB(ent))
    // the filtered accumulator's round state rides the same persisted
    // tuple-RDD leaf discipline as the navigation beam; its
    // intermediate leaves (superseded accumulator rounds + the shared
    // per-round scored frames) unpersist together after the one
    // end-of-loop materialization
    var accState: Option[(DataFrame,
      org.apache.spark.rdd.RDD[(Long, Long, Long)])] =
      labelMod.map(m => leaf3(topB(matching(ent, m))))
    var sharedLeaves: List[org.apache.spark.rdd.RDD[_]] = Nil
    // rounds retired two materializations back: their blocks are no
    // longer inputs to anything unmaterialized, so unpersist them —
    // a later read just recomputes from lineage. Live state is ≤ 3
    // query-sized frames per serve (the r18 leak: localCheckpointed
    // rounds accumulated forever).
    var retire: List[org.apache.spark.rdd.RDD[_]] = Nil
    for (_ <- 1 to rounds) {
      // the frontier's bucket residues (collect materializes the
      // round state; everything the PREVIOUS round persisted is now
      // recomputable-only → unpersist it)
      val fb = residues(beamRdd.map(_._2))
      retire.foreach(_.unpersist(false)); retire = Nil
      // the round reads ONLY the frontier's edge buckets and the
      // expansion's vector buckets — rounds × O(frontier) file reads
      // instead of rounds × O(corpus) scans (r18 VERDICT #1: at 10¹¹
      // vectors the flat layout re-scanned the full edge list and the
      // full float corpus every round for ≤ beamW·degree·|Q| point
      // fetches)
      val edgesR = readBucketed(s, s"$g/edges", bucketEdgeSchema, fb)
      // NO distinct on the served path (r18): duplicate (q_id, c_id)
      // rows — beam members sharing a neighbor, ≤ beamW·degree per
      // query either way — collapse in the BeamTopW cut with
      // identical d2.
      val (nbrsLeaf, nbrsRdd) = leaf2(dropTombs(
        beamLeaf.join(edgesR, beamLeaf("c_id") === edgesR("a_id"))
          .select(beamLeaf("q_id"), col("b_id").as("c_id"))))
      val nb = residues(nbrsRdd.map(_._2))
      val vecsR = readBucketed(s, s"$vdir/vectors", bucketVecSchema, nb)
        .select(col("vec_id").as("c_id"), col("qe").as("ce"))
      reads.foreach(_ += ((edgesR, vecsR)))
      // candidate (q_id, c_id) frames are query-plan-sized →
      // broadcast them into the pruned vector fetch; floats never
      // shuffle. No groupBy(q,c).min pre-pass: duplicate (q, c) rows
      // carry identical d2, and the BeamTopW cut dedups by id itself.
      val scored0 = vecsR.join(broadcast(nbrsLeaf), Seq("c_id"))
        .join(broadcast(q), Seq("q_id"))
        .filter(col("c_id") =!= col("q_id"))
        .select(col("q_id"), col("c_id"), sqd(col("qq"), col("ce")).as("d2"))
      // a FILTERED serve consumes each round's scored frame TWICE
      // (navigation cut + accumulator cut): persist it as a leaf so
      // the round's pruned vector buckets are read ONCE — without
      // this the accumulator chain's materialization re-reads every
      // round's vector buckets, doubling the per-round I/O the
      // beamscan octave bounds
      val scored = labelMod match {
        case Some(_) =>
          val (sl, sr) = leaf3(scored0)
          sharedLeaves = sr :: sharedLeaves
          sl
        case None => scored0
      }
      val (bl, br) = leaf3(topB(scored.unionByName(beamLeaf)))
      retire = List(beamRdd, nbrsRdd)
      // the filtered accumulator takes this round's MATCHING scored
      // candidates under its own top-beamW cut — below the cut, never
      // a post-filter of the navigation beam
      accState = accState.map { case (aL, aR) =>
        val nxt = leaf3(topB(matching(scored, labelMod.get).unionByName(aL)))
        sharedLeaves = aR :: sharedLeaves
        nxt
      }
      beamLeaf = bl; beamRdd = br
    }
    // filtered serve: ONE materializing action pins the accumulator
    // through the persisted scored leaves (construction is an action —
    // the beam serve already collects residues at construction), then
    // every intermediate leaf unpersists; lineage keeps each
    // recomputable, and live state returns to the navigation beam's
    // bounded set plus the one returned accumulator
    accState.foreach { case (_, aR) => aR.count(); () }
    sharedLeaves.foreach(_.unpersist(false))
    accState.map(_._1).getOrElse(beamLeaf)
  }

  /** DuckDB twin of [[beamParts]] + top-3, parameterized on the
    * (beamW, rounds) budget dial — ONE builder for the canonical 8×3
    * key, the wide 16×5 key (r18), the 32×5 key (r19) and the
    * filtered+tombstoned key (r20), so the oracles cannot fork: the
    * entry descent (top-2 supers, exact child scoring), `rounds`
    * unrolled expansion CTEs over the stored degree-8 neighbor lists,
    * beam kept to `beamW` by (d2, c_id), final top-3. With
    * `tomb = true` candidates carry `vec_id % 17 <> 3` below every
    * scoring join (the IVF deletes key's predicate); with
    * `labelMod = Some(m)` each round's freshly scored candidates
    * split into their own sc-CTE, the matching slice
    * (c_id % m = (q_id % m + 1) % m) folds into a filtered
    * accumulator a_r under its own top-beamW cut, and the final
    * top-3 reads a_rounds — the navigation beam b_r stays
    * unfiltered, mirroring [[beamParts]] exactly. The beam-state
    * CTEs are MATERIALIZED and the edge list reads through a
    * materialized alias: each round references b(r-1) twice, so
    * DuckDB's default inlining re-expands the whole knn chain
    * 2^rounds times — the 5-round dial OOM'd a 100 GiB limit at
    * sf0.1 before the hints, 0.9 s after (results identical).
    */
  private def beamOracleSql(beamW: Int, rounds: Int,
      labelMod: Option[Int] = None, tomb: Boolean = false): String = {
    val tsEnt = if (tomb) " AND c.cid % 17 <> 3" else ""
    def tsNew(r: Int) = if (tomb) s" AND n$r.c_id % 17 <> 3" else ""
    def cut(name: String, src: String) =
      D.topKCte(name, "q_id, c_id, d2", src, beamW, "d2, c_id", materialized = true)
    def matchPred(m: Int) = s"c_id % $m = (q_id % $m + 1) % $m"
    val roundCtes = (1 to rounds).map { r =>
      val scScore =
        s"""SELECT n$r.q_id, n$r.c_id, ${D.sqdInt("q.qq", "c.qe")} AS d2
           |          FROM n$r JOIN e c ON c.vec_id = n$r.c_id
           |                 JOIN q ON q.q_id = n$r.q_id
           |          WHERE n$r.c_id <> n$r.q_id${tsNew(r)}""".stripMargin
      val base =
        s"""n$r AS (SELECT DISTINCT b${r - 1}.q_id, tm.b_id AS c_id
           |        FROM b${r - 1} JOIN tm ON tm.a_id = b${r - 1}.c_id),""".stripMargin
      labelMod match {
        case None =>
          s"""${base}
             |s$r AS (SELECT q_id, c_id, min(d2) AS d2 FROM (
             |          SELECT q_id, c_id, d2 FROM b${r - 1}
             |          UNION ALL
             |          $scScore) u$r
             |        GROUP BY q_id, c_id),
             |${cut(s"b$r", s"s$r")}""".stripMargin
        case Some(m) =>
          s"""${base}
             |sc$r AS MATERIALIZED ($scScore),
             |s$r AS (SELECT q_id, c_id, min(d2) AS d2 FROM (
             |          SELECT q_id, c_id, d2 FROM b${r - 1}
             |          UNION ALL
             |          SELECT q_id, c_id, d2 FROM sc$r) u$r
             |        GROUP BY q_id, c_id),
             |${cut(s"b$r", s"s$r")},
             |sa$r AS (SELECT q_id, c_id, min(d2) AS d2 FROM (
             |          SELECT q_id, c_id, d2 FROM a${r - 1}
             |          UNION ALL
             |          SELECT q_id, c_id, d2 FROM sc$r WHERE ${matchPred(m)}) ua$r
             |        GROUP BY q_id, c_id),
             |${cut(s"a$r", s"sa$r")}""".stripMargin
      }
    }.mkString(",\n")
    val out = labelMod match {
      case None => topKSql(s"b$rounds", 3, "d2, c_id", "d2", "d2")
      case Some(m) =>
        topKSql(s"(SELECT q_id, c_id, CAST(c_id % $m AS INT) AS c_label, d2 FROM a$rounds) f",
          3, "d2, c_id", "d2", "d2", ids = "q_id, c_id, c_label")
    }
    s"""WITH ${knnEdgeCtesOver(knnScaledCentCte, twoLevel = true, degree = 8)},
       |tm AS MATERIALIZED (SELECT a_id, b_id FROM t),
       |${D.microRel()},
       |q AS (SELECT vec_id AS q_id, qe AS qq FROM e WHERE vec_id < 20),
       |${D.topKCte("brt", "q_id, qq, sid", "q, klscent s", 2,
           s"${dd2("q.qq", "s.sce")}, s.sid", part = "q.q_id", inner = "q.q_id, q.qq, s.sid")},
       |s0 AS (SELECT b.q_id, c.cid AS c_id, ${D.sqdInt("b.qq", "c.ce")} AS d2
       |       FROM brt b JOIN klchl c ON c.sid = b.sid
       |       WHERE c.cid <> b.q_id$tsEnt),
       |${cut("b0", "s0")},
       |${labelMod.fold("")(m =>
           cut("a0", s"(SELECT q_id, c_id, d2 FROM s0 WHERE ${matchPred(m)}) sa0") + ",\n")}$roundCtes
       |$out""".stripMargin
  }

  /** Integer-exact damped PageRank over an arbitrary (src, dst) edge
    * frame — `iters` unrolled Pregel-shape rounds (ranks ⋈ edges on
    * src, dst-keyed aggregate, micro-unit floor arithmetic), the same
    * code path the oracled key runs; probe-drivable at edge octaves.
    */
  private[graft] def pageRankMicro(edges: DataFrame, iters: Int): DataFrame = {
    // callers cache `edges` when it isn't already derived from a
    // cached frame (the oracled key's knnEdges is — re-caching its
    // projection would double-materialize, round-13 review)
    val nodes = eagerCache(edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct())
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    var ranks = nodes.select(col("id"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      val m = edges.join(deg, "src")
        .join(ranks.select(col("id").as("src"), col("r")), "src")
        .select(col("dst"), expr("r div od").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("m"))
      ranks = nodes.join(m, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(150000L) + expr("(850000 * coalesce(m, 0L)) div 1000000"))
            .cast("long").as("r"))
    }
    ranks.select(col("id"), col("r").as("rank_micro"))
  }

  /** Per-node triangle counts over the undirected knn edge set.
    * `byDegree = true` orients each edge low→high under (degree, id) —
    * the arboricity-bounded production orientation (wedges enumerate at
    * the lowest-degree endpoint, Σ out-deg² ≤ O(m^1.5) regardless of
    * hubs); `false` orients by id, matching the oracle SQL. Any acyclic
    * orientation gives every triangle exactly one source vertex, so
    * both enumerate the SAME triangle set — the spec compares them.
    */
  private[graft] def triangleCounts(s: SparkSession, d: String,
      byDegree: Boolean): DataFrame =
    triangleCountsOver(knnEdges(s, d), byDegree)

  /** Acyclic orientation of the undirected (u, v) edge set —
    * (src, dst, dkey) with dkey the (degree, id) struct wedge pairs
    * compare on.
    */
  private[graft] def orientEdges(und: DataFrame, byDegree: Boolean): DataFrame =
    if (!byDegree)
      und.select(col("u").as("src"), col("v").as("dst"),
        struct(lit(0L).as("dg"), col("v").as("id")).as("dkey"))
    else {
      val deg = und.select(col("u").as("id")).unionByName(und.select(col("v").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("dg"))
      val uFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
      und
        .join(deg.select(col("id").as("u"), col("dg").as("du")), "u")
        .join(deg.select(col("id").as("v"), col("dg").as("dv")), "v")
        .select(when(uFirst, col("u")).otherwise(col("v")).as("src"),
          when(uFirst, col("v")).otherwise(col("u")).as("dst"),
          when(uFirst, struct(col("dv").as("dg"), col("v").as("id")))
            .otherwise(struct(col("du").as("dg"), col("u").as("id"))).as("dkey"))
    }

  /** The triangle pipeline over an arbitrary (a_id, b_id) edge frame —
    * the same code path the oracled key runs, probe-drivable at graph
    * octaves.
    */
  private[graft] def triangleCountsOver(t: DataFrame, byDegree: Boolean): DataFrame = {
    val und = eagerCache(t.select(least(col("a_id"), col("b_id")).as("u"),
      greatest(col("a_id"), col("b_id")).as("v")).distinct())
    val o = eagerCache(orientEdges(und, byDegree))
    val e1 = o.select(col("src"), col("dst").as("b"), col("dkey").as("bk"))
    val e2 = o.select(col("src").as("src2"), col("dst").as("c"), col("dkey").as("ck"))
    // wedges at the orientation-minimal vertex; the bk < ck cut emits
    // each unordered out-neighbor pair once, closed by one semi-join
    // against the oriented edge list (the closing edge of a bk<ck pair
    // is oriented b→c by construction)
    val tri = e1.join(e2, col("src2") === col("src") && col("bk") < col("ck"))
      .select(col("src").as("a"), col("b"), col("c"))
      .join(o.select(col("src").as("b2"), col("dst").as("c2")),
        col("b2") === col("b") && col("c2") === col("c"), "left_semi")
    tri.select(col("a").as("id"))
      .unionByName(tri.select(col("b").as("id")))
      .unionByName(tri.select(col("c").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("id"))
  }

  /** DuckDB twin of [[knnEdges]] as a CTE prefix ending in `t`. */
  private lazy val knnEdgeCtes: String = knnEdgeCtesOver(fixedCentCte)

  /** DuckDB twin of [[knnEdgesScaled]]'s corpus-sized centroid rule
    * (the integer formula mirrored exactly: cells = max(8, ⌈n/125⌉),
    * stride = n // cells, seeds = multiples of stride below
    * stride·cells) — assigned through the TWO-LEVEL layer by
    * [[knnEdgeCtesOver]], like the Spark chain.
    */
  private def knnScaledCentCte: String =
    """nn AS (SELECT count(*) AS n FROM embeddings),
      |par AS (SELECT greatest(8, (n + 124) // 125) AS cells,
      |               greatest(1, n // greatest(8, (n + 124) // 125)) AS stride FROM nn),
      |cent AS (
      |  SELECT vec_id AS cid, embedding AS ce FROM embeddings, par
      |  WHERE vec_id % stride = 0 AND vec_id < stride * cells)""".stripMargin

  /** The shared tail of both knn oracle chains: assignment (flat for
    * the fixed-8 chain, two-level micro-unit for the corpus-scaled
    * one — mirroring [[knnEdgesOver]]), in-cell pairs, top-`degree` —
    * ending in `t`.
    */
  private def knnEdgeCtesOver(centCte: String, twoLevel: Boolean = false,
      degree: Int = 3): String = {
    val asgCte = if (!twoLevel) flatAsgCte
    else
      s"""${D.microRel("km")},
         |cm2 AS (SELECT cid, ${D.micro("ce")} AS ce FROM cent),
         |${superLayerCtes("kl", "cm2")},
         |${twoLevelRankCtes("kl", "km", "vec_id", "qe", "ka")},
         |asg AS (SELECT e.vec_id, e.embedding, ${D.norm("e.embedding")} AS nrm,
         |               ka.cid AS cell
         |        FROM embeddings e JOIN ka ON ka.vec_id = e.vec_id AND ka.rn = 1)""".stripMargin
    s"""$centCte,
       |$asgCte,
       |p AS (
       |  SELECT q.vec_id AS a_id, c.vec_id AS b_id,
       |         ${D.dot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
       |  FROM asg q JOIN asg c ON q.cell = c.cell
       |  WHERE c.vec_id <> q.vec_id),
       |t AS (
       |  SELECT a_id, b_id, rnk, cos FROM (
       |    SELECT a_id, b_id, cos,
       |           row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rnk
       |    FROM p) x
       |  WHERE rnk <= $degree)""".stripMargin
  }

  /** The CTE chain shared by `sim_ivf_pq`'s and `sim_ivf_pq_rerank`'s
    * oracles — everything through the probe-filtered ADC aggregate
    * `adist` (and the exact-vector frame `e` the re-rank tail joins
    * back to).
    */
  private def ivfPqAdistCtes: String = {
    s"""${D.ivf(pqQdCtes)},
       |${D.ivfAsg},
       |${D.ivfProbes},
       |${D.adist(s"""enc JOIN asg ON asg.vec_id = enc.vec_id
       |               JOIN probes pr ON pr.pcell = asg.cell
       |               JOIN qd ON qd.q_id = pr.q_id AND ${D.codeMatch}""")}""".stripMargin
  }

  /** Shared DuckDB oracle for `sim_ivf_pq` AND `sim_ivf_pq_indexed` —
    * the persisted-index serve must be hash-equal to the in-memory
    * composition, so both keys pin against one SQL.
    */
  private def ivfPqOracle: String =
    s"""WITH $ivfPqAdistCtes
       |${topKSql("adist", 3, "ad, c_id", "ad", "ad AS approx_d2")}""".stripMargin

  private def ivfPqRerankOracle: String =
    s"""WITH $ivfPqAdistCtes,
       |$exactRerankSql""".stripMargin

  /** The PQ encode chain every PQ oracle starts from — micro-unit `e`,
    * the trained codebook `cb`, per-subspace distances, the `enc` codes
    * (argmin by (d2, c)) and the `qd` tables of queries 0-19.
    */
  private def pqQdCtes: String =
    s"""${D.microRel()},
       |${trainedCbCtes(pqSeedIds, "e", "qe", "ce")},
       |${D.pqEncCtes("vec_id", "e", "qe", "ce")},
       |qd AS (SELECT vec_id AS q_id, m, c, d2 FROM dist WHERE vec_id < 20)""".stripMargin

  /** `sim_pq_adc`'s flat ADC aggregate over [[pqQdCtes]] — `adist`. */
  private def pqAdcCtes: String =
    s"""$pqQdCtes,
       |${D.adist(s"enc JOIN qd ON ${D.codeMatch}")}""".stripMargin

  /** The oracle twin of [[exactRerank]] with its default dials: the
    * top-32 `adist` shortlist, exact micro-unit L2 against `e`, top-3.
    */
  private def exactRerankSql: String =
    s"""${D.refineCtes(Seq("q_id", "c_id"), "ex", "exact_d2")}
       |${topKSql("ex", 3, "exact_d2, c_id", "exact_d2", "exact_d2")}""".stripMargin

  /** The probe-filtered ADC aggregate of `sim_ivf_pq` and
    * `sim_ivf_pq_indexed` (the persisted-index key must hash-equal the
    * in-memory composition): `lists` = cell-tagged PQ codes
    * (c_id, m, code, cell), `qd` = query distance tables
    * (q_id, qm, c, d2) fanned out to each query's `probes`
    * (q_id, pcell), then [[adc]].
    */
  private[graft] def ivfPqAdist(lists: DataFrame, qd: DataFrame, probes: DataFrame): DataFrame =
    adc(lists, qd.withColumnRenamed("q_id", "pq_id")
      .join(probes, col("pq_id") === col("q_id"))
      .select(col("q_id"), col("qm"), col("c"), col("d2"), col("pcell")))

  /** The corpus-scaled, Lloyd-refined coarse quantizer of the IVF×PQ
    * family — (cid, ce) with ce integer micro-units — shared by every
    * chain (flat, residual, persisted builds, filtered) so the
    * centroid set is ONE definition. Geometry: cells =
    * max(8, ⌈n/[[ivfPerCell]]⌉), seeds picked by the deterministic
    * stride rule (every ⌊n/cells⌋-th vec_id — knn_graph_scaled's
    * reproducible stand-in for sampled seeding), then ONE exact Lloyd
    * step: assign every vector to its nearest seed (exact integer
    * micro-unit L2, argmin tie-broken by cid), take the per-cell
    * component mean, and ROUND IT BACK TO THE INTEGER LATTICE
    * (floor(mean + 0.5)). The rounding is what keeps every downstream
    * guarantee intact: residuals stay integers, ADC sums stay
    * exact-in-doubles (< 2⁵³), and the BIGINT casts at the aggregate
    * frontier cannot diverge between engines (Spark truncates,
    * DuckDB rounds — only integer-valued sums make them agree).
    * Parity: sums of integer-valued components are EXACT doubles
    * regardless of aggregation order, count is exact, so mean is one
    * identical IEEE divide in both engines — the sim_ivf_refined
    * no-rounding-frontier argument, plus the lattice rounding.
    * At 100 TB: seeds are a metadata-cheap stride scan, the E-step is
    * a broadcast expand collapsed by a partially-aggregated
    * min(struct), the M-step one map-side-combinable aggregate over
    * cells×64 doubles — and per-query serve work is nprobe·perCell
    * codes FLAT in n (SCALE.md's ivfidx octave), where the old
    * fixed-8-seed quantizer scanned nprobe·n/8.
    */
  /** The HIERARCHICAL (two-level) coarse-assignment layer over any
    * centroid/seed frame `cent`(cid, ce) — the production answer to
    * the flat O(cells) assignment scan: with cells ∝ n, every stage
    * that ranks an item against ALL centroids is linear-in-n per item
    * (and the full centroid frame itself outgrows broadcast limits at
    * ~10⁹ vectors). FAISS's answer past ~10⁴ cells is a hierarchical
    * coarse assigner (IMI / HNSW-on-centroids); this is its two-level
    * k-means-tree form. Geometry: sups = max(1, ⌈√cells⌉) SUPER-seeds
    * picked by the SAME stride rule applied to the cid-ranked centroid
    * index space (idx % sstride == 0, idx < sstride·sups — one
    * formula, no fork), then ONE Lloyd pass over the centroid frame:
    * assign every centroid to its nearest super-seed (exact integer
    * micro-unit L2, tie → lowest sid) and take the lattice-rounded
    * member mean (floor(mean + 0.5) — the scaledLloydCent parity
    * argument verbatim: integer-valued sums are exact doubles, one
    * identical IEEE divide, so both engines land on the same lattice
    * point). The CHILD MAP is the E-step membership (centroid →
    * nearest super-SEED), NOT a re-assignment against the final
    * super-centroids: E-step membership guarantees every emitted
    * super-centroid has ≥ 1 child (a super-seed is itself a member at
    * d2 = 0), so a routed item always finds candidates — re-assignment
    * could strand a query in a childless super. Precondition for that
    * theorem (and the sups = ⌈√cells⌉ spec pin): super-seed VECTORS
    * are pairwise distinct. An exact-duplicate seed ties at d2 = 0
    * and assigns to the lower sid, leaving the higher super childless
    * — routing stays CORRECT (scent derives from chl, so a childless
    * super simply never exists in the emitted layer and the router
    * sees one fewer super), but the √cells geometry degrades by one
    * per duplicate. Stride seeds over the fixtures' distinct-vector
    * corpora satisfy this; a corpus with duplicated vectors at seed
    * positions gets the degraded-but-correct layer.
    * Returns (scent = (sid, sce), chl = (cid, ce, sid)).
    * Cost, stated precisely: the layer BUILD's E-step expands
    * cells × sups = cells^1.5 rows (a map-side-combinable partial
    * aggregate — at the 8M-cell extreme that is ~2.3×10¹⁰ distance
    * rows, a real but build-once cost, and the recursive fix past
    * that is a third level); the idx window runs single-partition
    * over the cells rows. What the layer BUYS is per-ITEM routing:
    * O(sups + cells/sups) = O(√cells) instead of O(cells), with the
    * √cells super layer the only frame an assigner must broadcast —
    * and routing runs per corpus row / per query / per arriving
    * stream row, i.e. n times per build.
    */
  private[graft] def superLayer(cent: DataFrame): (DataFrame, DataFrame) = {
    val cells = cent.count()
    val sups = math.max(1L, math.ceil(math.sqrt(cells.toDouble)).toLong)
    val sstr = math.max(1L, cells / sups)
    val wIdx = org.apache.spark.sql.expressions.Window.orderBy(col("cid"))
    val sseed = cent
      .select(col("cid"), col("ce"),
        (row_number().over(wIdx) - 1).cast("bigint").as("idx"))
      .filter(col("idx") % sstr === 0 && col("idx") < sstr * sups)
      .select(col("cid").as("sid"), col("ce").as("sse"))
    val chl = eagerCache(nearest(cent.join(broadcast(sseed)), Seq(col("cid")),
        d2(col("ce"), col("sse")), col("sid"), "ce")
      .select(col("cid"), col("ce"), col("best.sid").as("sid")))
    val scent = chl.groupBy(col("sid"))
      .agg(graft.functions.VectorMean.centroid(
        col("ce").cast("array<float>")).as("mv"))
      .select(col("sid"),
        transform(col("mv"), x => floor(x + lit(0.5d))).as("sce"))
    (scent, chl)
  }

  /** Two-level routing of an item frame `items`(idCol, vecCol) through
    * a [[superLayer]]: rank the √cells super-centroids (the ONLY
    * broadcast — sups rows), keep the TOP-`w` supers (multi-assign —
    * the FAISS IMI move), then rank the UNION of the routed supers'
    * children via a sid-keyed JOIN — deliberately NOT a `broadcast()`
    * of the full child frame: at 10⁹ vectors the cells frame is
    * ~4 GB (past practical broadcast limits), while a sid-keyed
    * shuffle join is the standard scalable shape (Catalyst still
    * picks a broadcast from stats when cells is actually small — the
    * right call at both scales, made by the optimizer, not
    * hardcoded). `w` is the ROUTING WIDTH: a super structurally
    * guarantees only ≥ 1 child, so routing to w supers is what makes
    * ≥ min(w, cells) candidate cells a THEOREM — an nprobe-cell serve
    * must route with w ≥ nprobe or its probe count silently degrades
    * to the routed supers' child count on skinny supers (the r16
    * review caught exactly this at nprobe = 2; r17 generalizes the
    * fix to the filtered-ANN serving rule's full range — measured
    * 24–64 at 1/1000 selectivity on the n/125 geometry, SCALE.md).
    * Wider routing also shrinks the boundary-approximation loss the
    * `twolevel` probe prices on isotropic corpora — at w·√cells work
    * per item, still O(√cells) for the small fixed w a serve dials.
    * The top-w route itself is ONE map-side-combinable aggregate
    * ([[graft.functions.MinPairW]] — a window here would shuffle the
    * n·√cells expand). Output: (idCol, cid, d2c, rn) with rn ranked
    * by (d2c, cid) over the routed supers' children — the
    * [[coarseRanked]] schema; child sets are disjoint (the E-step
    * membership is a partition), so no dedup is needed.
    */
  private[graft] def twoLevelRanked(items: DataFrame, idCol: String,
      vecCol: String, scent: DataFrame, chl: DataFrame,
      w: Int = 2): DataFrame = {
    val routed = items.join(broadcast(scent))
      .groupBy(col(idCol))
      .agg(graft.functions.MinPairW.topW(w)(
          d2(col(vecCol), col("sce")), col("sid")).as("sids"),
        first(col(vecCol)).as(vecCol))
      .select(col(idCol), col(vecCol), explode(col("sids")).as("sid"))
    // top-w child rank as ONE map-side-combinable BeamTopW pass (r22):
    // the window form shuffled + sorted the full items × routed-child
    // expand (~w·√cells rows per item); the aggregate collapses each
    // item's candidates to its ≤ w best before the exchange. Every
    // caller consumes rn ≤ its nprobe ≤ w, so truncating to the top-w
    // loses nothing; d2c is integer-valued micro-unit L2 (< 2⁵³ —
    // BeamTopW's exactness contract) and ties break (d2c, cid), the
    // same lexicographic rule as the window's ORDER BY. Dedup-by-id
    // is a no-op: child sets of distinct supers are disjoint.
    routed.join(chl, Seq("sid"))
      .select(col(idCol), col("cid"), d2(col(vecCol), col("ce")).as("d2c"))
      .groupBy(col(idCol))
      .agg(graft.functions.BeamTopW.topPairs(w)(col("d2c"), col("cid")).as("ps"))
      .select(col(idCol), posexplode(col("ps")))
      .select(col(idCol), col("col._2").as("cid"), col("col._1").as("d2c"),
        (col("pos") + 1).cast("int").as("rn"))
  }

  private[graft] def scaledLloydCent(e0: DataFrame,
      perCell: Long = ivfPerCell,
      seedLay: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    // TWO-LEVEL E-step: the super layer is built over the SEED frame
    // (√cells super-seeds, one Lloyd pass over cells rows — metadata),
    // and every vector routes super-first, then ranks only the routed
    // super's child seeds. Per-vector work O(√cells), and the only
    // broadcast is the super layer — the flat form's
    // broadcast-ALL-seeds expand grew ∝ n on both axes. Staged
    // callers pass the shared [[stagedSeedLayer]] (one derivation for
    // the quantizer AND the knn graph — r17); ad-hoc/probe callers
    // derive inline via THE shared stride rule (strideSeedRows — the
    // IVF quantizer geometry and the knn-graph geometry are one
    // formula).
    val (scent, chl) = seedLay.getOrElse(superLayer(
      strideSeedRows(e0, perCell, "scaledLloydCent")
        .select(col("vec_id").as("cid"), col("qe").as("ce"))))
    val asg = twoLevelRanked(e0, "vec_id", "qe", scent, chl)
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("scell"))
      .join(e0, Seq("vec_id"))
    asg.groupBy(col("scell"))
      .agg(graft.functions.VectorMean.centroid(
        col("qe").cast("array<float>")).as("mv"))
      .select(col("scell").as("cid"),
        transform(col("mv"), x => floor(x + lit(0.5d))).as("ce"))
  }

  /** DuckDB d2 between two 64-dim list expressions — the expanded
    * dot-product form every coarse ranking uses (exact on micro-unit
    * integers in doubles, < 2⁵³).
    */
  private def dd2(a: String, b: String): String =
    s"${D.dot(a, a)} - 2 * ${D.dot(a, b)} + ${D.dot(b, b)}"

  /** The oracle twin of [[topK]] as a statement tail: rank `src` rows
    * per `part` by `order`, keep rnk ≤ k, emit (`ids`, rnk, `out`)
    * ordered by (part, rnk); `inner` is the ranked value `out` reads.
    */
  private def topKSql(src: String, k: Int, order: String, inner: String,
      out: String, ids: String = "q_id, c_id", part: String = "q_id"): String =
    s"""SELECT $ids, rnk, $out FROM
       |  (SELECT $ids, $inner,
       |          row_number() OVER (PARTITION BY $part ORDER BY $order) AS rnk
       |   FROM $src) t
       |WHERE rnk <= $k ORDER BY $part, rnk""".stripMargin

  /** The oracle twin of [[cosineTopK]]'s cut over a `p`(q_id, c_id, cos)
    * CTE.
    */
  private def cosineTopKSql(k: Int): String =
    topKSql("p", k, "cos DESC, c_id", "cos", "floor(cos * 1000000 + 0.5) / 1000000 AS cosine")

  /** DuckDB twin of [[superLayer]] as a CTE suffix over a centroid
    * relation `$centRel`(cid, ce) — emits `${p}scent`(sid, sce) and
    * `${p}chl`(cid, ce, sid), mirroring the integer formula
    * (sups = max(1, ⌈√cells⌉), index-stride super-seeds, E-step
    * membership, lattice-rounded member means) op for op.
    */
  private def superLayerCtes(p: String, centRel: String): String =
    s"""${p}n AS (SELECT count(*) AS cells FROM $centRel),
       |${p}par AS (SELECT greatest(1, CAST(ceil(sqrt(cells)) AS BIGINT)) AS sups,
       |                   greatest(1, cells // greatest(1, CAST(ceil(sqrt(cells)) AS BIGINT))) AS sstr
       |            FROM ${p}n),
       |${p}idx AS (SELECT cid, ce, row_number() OVER (ORDER BY cid) - 1 AS idx
       |            FROM $centRel),
       |${p}ssd AS (SELECT cid AS sid, ce AS sse FROM ${p}idx, ${p}par
       |            WHERE idx % sstr = 0 AND idx < sstr * sups),
       |${p}chl AS (SELECT cid, ce, sid FROM (
       |              SELECT x.cid, x.ce, s.sid,
       |                     row_number() OVER (PARTITION BY x.cid
       |                       ORDER BY ${dd2("x.ce", "s.sse")}, s.sid) AS rn
       |              FROM ${p}idx x, ${p}ssd s) t WHERE rn = 1),
       |${p}scent AS (SELECT sid, list(mv ORDER BY i) AS sce FROM (
       |                SELECT sid, i, floor(sum(ce[i]) / count(*) + 0.5) AS mv
       |                FROM ${p}chl, range(1, ${dim + 1}) t(i)
       |                GROUP BY sid, i) g GROUP BY sid)""".stripMargin

  /** DuckDB twin of [[twoLevelRanked]]: route `$itemRel`(idCol,
    * vecCol) through the `$p` super layer to its TOP-`w` supers, then
    * emit `$out`(idCol, cid, rn) ranked by (d2c, cid) over the union
    * of the routed supers' children (disjoint by construction). `w`
    * must equal the Spark twin's routing width — max(2, nprobe) for
    * every [[coarseRanked]] chain.
    */
  private def twoLevelRankCtes(p: String, itemRel: String, idCol: String,
      vecCol: String, out: String, w: Int = 2): String =
    twoLevelRankCtesW(p, itemRel, idCol, vecCol, out, w.toString)

  /** [[twoLevelRankCtes]] with the SUPER-routing width as an SQL
    * EXPRESSION (r18): the per-query-width key routes its query frame
    * at the BATCH's max width — a data-dependent scalar subquery —
    * while every fixed-dial caller passes the literal through the Int
    * overload above.
    */
  private def twoLevelRankCtesW(p: String, itemRel: String, idCol: String,
      vecCol: String, out: String, w: String): String =
    s"""${out}rt AS (SELECT $idCol, sid FROM (
       |              SELECT i.$idCol, s.sid,
       |                     row_number() OVER (PARTITION BY i.$idCol
       |                       ORDER BY ${dd2(s"i.$vecCol", "s.sce")}, s.sid) AS rn
       |              FROM $itemRel i, ${p}scent s) t WHERE rn <= $w),
       |$out AS (SELECT $idCol, cid,
       |                row_number() OVER (PARTITION BY $idCol
       |                  ORDER BY d2c, cid) AS rn FROM (
       |           SELECT i.$idCol, c.cid, ${dd2(s"i.$vecCol", "c.ce")} AS d2c
       |           FROM $itemRel i JOIN ${out}rt r ON r.$idCol = i.$idCol
       |                JOIN ${p}chl c ON c.sid = r.sid) z)""".stripMargin

  /** DuckDB twin of [[scaledLloydCent]] as a CTE suffix — requires a
    * CTE `e(vec_id, qe)` already in scope and ends with
    * `cent(cid, ce)`. The integer formula (cells, stride, seeds), the
    * seed assignment, and the lattice-rounded mean mirror the Spark
    * chain op for op. The per-cell budget is an SQL EXPRESSION over
    * `n` (in scope from the `nn` CTE): [[ivfPerCell]] for the n/125
    * chains, [[D.sqrtnPc]] (pc = n ÷ 4⌈√n⌉, the PLANS.md production
    * geometry rule) for the √n ones — one CTE chain, so the two dials
    * cannot fork. All arithmetic stays integer
    * (greatest/`//`), and ⌈√n⌉ is ceil of the correctly-rounded IEEE
    * sqrt — bit-identical between java.lang.Math and DuckDB.
    */
  private def scaledLloydCentCtesAt(pcExpr: String): String = {
    s"""nn AS (SELECT count(*) AS n FROM e),
       |pcx AS (SELECT greatest(1, $pcExpr) AS pc FROM nn),
       |par AS (SELECT greatest(8, (n + pc - 1) // pc) AS cells,
       |               greatest(1, n // greatest(8, (n + pc - 1) // pc)) AS stride
       |        FROM nn, pcx),
       |sdd AS (SELECT vec_id AS cid, qe AS ce FROM e, par
       |        WHERE vec_id % stride = 0 AND vec_id < stride * cells),
       |${superLayerCtes("sl", "sdd")},
       |${twoLevelRankCtes("sl", "e", "vec_id", "qe", "sa0")},
       |sa AS (SELECT e.vec_id, e.qe, sa0.cid AS scell
       |       FROM e JOIN sa0 ON sa0.vec_id = e.vec_id AND sa0.rn = 1),
       |cm AS (SELECT scell, i, floor(sum(qe[i]) / count(*) + 0.5) AS mv
       |       FROM sa, range(1, ${dim + 1}) t(i) GROUP BY scell, i),
       |cent AS (SELECT scell AS cid, list(mv ORDER BY i) AS ce FROM cm
       |         GROUP BY scell)""".stripMargin
  }

  /** Shared coarse-quantizer routing, TWO-LEVEL (r16) with
    * nprobe-PROVISIONED width (r17): every vector routes to its
    * TOP-max(2, nprobe) super-centroids ([[superLayer]] over the
    * given centroid frame — the only broadcast, √cells rows), then
    * ranks ONLY those supers' child centroids by exact micro-unit
    * L2, ranked by (d2c, cid), kept to rn ≤ nprobe — (vec_id, cid,
    * rn). Width = max(2, nprobe) makes the probe plan structurally
    * sound at EVERY dial: a super guarantees only ≥ 1 child, so
    * top-2 routing covers nprobe ≤ 2 but would silently
    * under-provision the filtered-ANN serving rule's wide dials
    * (nprobe ≈ 2–3 × k/(s·|cell|) — 24–64 at sharp filters on the
    * n/125 geometry) whenever a routed super runs skinny —
    * with w = nprobe, ≥ min(nprobe, cells) candidate cells is a
    * theorem, not a fixture accident. The ONE arithmetic all four
    * IVF×PQ chains (flat, residual, index build, index serve) derive
    * their assignment/probe splits from: the flat↔residual
    * equal-scan assertion and the in-memory↔persisted hash equality
    * both depend on these chains never drifting, so the formula
    * lives once — and the oracle mirrors the two-level argmin op for
    * op (superLayerCtes + twoLevelRankCtes, same w).
    */
  private[graft] def coarseRanked(e0: DataFrame, cent: DataFrame,
      nprobe: Int = 2,
      layer: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    // callers with a STAGED layer pass it (quantLayer/dirLayer —
    // r16 review: re-deriving per serve paid a count + window + Lloyd
    // pass each call); probe/on-the-fly callers derive inline
    val (scent, chl) = layer.getOrElse(superLayer(cent))
    twoLevelRanked(e0, "vec_id", "qe", scent, chl, w = math.max(2, nprobe))
      .filter(col("rn") <= nprobe)
  }

  /** sim_ivf_pq's full chain up to the ADC aggregate (flat encoding,
    * by_residual=false): pqParts codes + coarse cell assignment +
    * nprobe=2 probes → [[ivfPqAdist]]. The key wraps it in
    * [[ivfPqTop3]]; VectorOpsSpec reads the aggregate directly for
    * the equal-scan candidate count.
    */
  private[graft] def ivfPqFlatAdist(s: SparkSession, d: String): DataFrame =
    ivfPqFlatParts(s, d)._2

  /** [[ivfPqFlatAdist]] plus the micro-unit vector frame it was built
    * from — (e0, adist) — so `sim_ivf_pq_rerank` can fetch exact
    * vectors for its shortlist without re-deriving (and re-caching)
    * the PQ chain.
    */
  private[graft] def ivfPqFlatParts(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (e0, enc, qd) = pqParts(s, d)
    // inverted lists: each code row learns its cell once (the
    // build-time co-partitioning); the probe filter + ADC lookup is
    // then ONE broadcast join of the query-sized (tables × probes)
    // side against the cell-tagged code stream
    val (asg, probes) = quantRoute(s, d, e0)
    (e0, ivfPqAdist(enc.join(asg.withColumnRenamed("vec_id", "c_id"), Seq("c_id")),
      qd, probes))
  }

  /** The in-memory IVF×PQ route: asg (vec_id, cell) and the probes
    * (q_id, pcell) of queries 0-19 over the staged quantizer.
    */
  private def quantRoute(s: SparkSession, d: String, e0: DataFrame): (DataFrame, DataFrame) = {
    val ranked = eagerCache(coarseRanked(e0, quantCent(s, d),
      layer = Some(quantLayer(s, d))))
    (ranked.filter(col("rn") === 1).select(col("vec_id"), col("cid").as("cell")),
      ranked.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("cid").as("pcell")))
  }

  /** sim_ivf_pq_residual's chain up to the ADC aggregate (FAISS
    * by_residual=true): every vector PQ-encoded as its residual from
    * its OWN coarse cell centroid, queries building PER-CELL distance
    * tables from THEIR residual against each probed cell. The probed
    * candidate set is identical to [[ivfPqFlatAdist]]'s by
    * construction (same centroids, same nprobe — VectorOpsSpec
    * asserts the counts equal); only the ranking changes.
    */
  private[graft] def ivfPqResidualAdist(s: SparkSession, d: String): DataFrame = {
    val e0 = microVecs(s, d)
    val cent = quantCent(s, d)
    val (asg, probes) = quantRoute(s, d, e0)
    val (cb, enc) = residualEncode(e0, cent, asg, quantCbRes(s, d))
    adc(enc, residualQueryTables(e0, cent, probes, cb))
  }

  /** Residual PQ encode over own-cell assignments (FAISS
    * by_residual=true build): integer residuals from each vector's
    * cell centroid, one bounded argmin per (vector, subspace) against
    * `cb` — the residual codebook TRAINED ONCE by [[stagedIvfQuant]]
    * (on residual samples, seeded from the pqResSeedIds residuals —
    * FAISS by_residual=true trains its sub-quantizer on exactly
    * these) and passed in, so the encode never retrains.
    * Returns (cb pass-through, enc = (c_id, cell, m, code) residual
    * code stream). Shared by the in-memory chain and the
    * persisted-index build so the two cannot drift.
    */
  private[graft] def residualEncode(e0: DataFrame, cent: DataFrame,
      asg: DataFrame, cb: DataFrame): (DataFrame, DataFrame) = {
    // integer residuals from the OWN-cell centroid (corpus side). No
    // broadcast hint on cent: the centroid frame grows ∝ n, so the
    // optimizer must stay free to shuffle-join on cell at scale
    val resv = eagerCache(e0.join(asg, Seq("vec_id"))
      .join(cent, col("cell") === col("cid"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("qe"), col("ce"), (x, y) => x - y).as("res")))
    // `cell` joins the encoder's grouping key (functionally
    // dependent on vec_id) so no first() is needed
    (cb, pqEncode(pqDist(resv, Seq("vec_id", "cell"), "res", cb, "cv"),
      Seq("vec_id", "cell")))
  }

  /** PER-CELL residual query distance tables — (q_id, pcell, qm, c,
    * d2), still broadcast-sized (|Q| × nprobe × 8 × 4 rows): each
    * probed cell gets tables built from the QUERY's residual against
    * THAT cell's centroid. Shared by the in-memory chain and the
    * persisted-index serve (which feeds the STORED centroids and
    * codebook).
    */
  private[graft] def residualQueryTables(e0q: DataFrame, cent: DataFrame,
      probes: DataFrame, cb: DataFrame): DataFrame = {
    // the query side is the tiny frame here — no broadcast hint on
    // the ∝-n centroid frame; AQE broadcasts the query side instead
    val qres = probes
      .join(e0q.withColumnRenamed("vec_id", "q_id"), Seq("q_id"))
      .join(cent, col("pcell") === col("cid"))
      .select(col("q_id"), col("pcell"),
        zip_with(col("qe"), col("ce"), (x, y) => x - y).as("res"))
    subspaces(qres, Seq("q_id", "pcell"), "res", "sv", mAs = "qm")
      .join(broadcast(cb.withColumnRenamed("m", "cbm")), col("qm") === col("cbm"))
      .select(col("q_id"), col("pcell"), col("qm"), col("c"),
        sqDist(col("sv"), col("cv")).as("d2"))
  }

  /** Shared exact-re-rank tail of `sim_pq_rerank`,
    * `sim_ivf_pq_rerank` and `sim_ivf_pq_serve` (Jégou 2011 §5.3 over
    * any ADC aggregate): top-32 shortlist by approximate distance →
    * fetch exact micro-unit vectors for ONLY those candidates → exact
    * integer squared-L2 top-3. The fetch reads the BUCKET-STAGED
    * vector copy ([[stagedVecBuckets]]) pruned to the shortlist's
    * bucket residues (r19, VERDICT r18 #3 — previously a broadcast
    * join against the full corpus scan: one scan, bounded work, but
    * 100 TB of floats READ per query batch for ≤ 32·|Q| point
    * fetches). The shortlist (with its query's exact vector riding
    * along) is query-sized and broadcasts into the pruned fetch — the
    * floats never shuffle.
    *
    * CALLER CONTRACT (r19 advice): CONSTRUCTION IS AN ACTION — the
    * shortlist collect runs the full upstream ADC chain eagerly at
    * DataFrame-construction time (the documented one-action design:
    * one collect feeds both the bucket residues and the fetch join).
    * Build the frame only when you will consume it; upstream failures
    * surface here, not at the downstream action.
    */
  private[graft] def exactRerank(s: SparkSession, d: String,
      adist: DataFrame, shortlist: Int = 32, k: Int = 3): DataFrame = {
    import s.implicits._
    val wSl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("ad"), col("c_id"))
    // ONE action: the ≤ shortlist·|Q|-row shortlist collects once
    // (the same query-sized driver-value class as the cell plans)
    // and feeds BOTH the bucket residues and the fetch join's local
    // side — r19b, replacing a cache-fill action plus a residue
    // collect. Defaults (32 → 3) are Jégou's dials and preserve every
    // oracled key's hash; callers wanting k > 3 widen both (r19
    // VERDICT #3: the tail was hard-wired).
    val slRows: Array[(Long, Long)] = adist
      .withColumn("srn", row_number().over(wSl))
      .filter(col("srn") <= shortlist)
      .select(col("q_id"), col("c_id"))
      .as[(Long, Long)].collect()
    val sl = slRows.toSeq.toDF("q_id", "c_id")
    val (vdir, bMod) = stagedVecBuckets(s, d)
    // bucket residues of q_ids ∪ shortlist c_ids: ≤
    // min((shortlist+1)·|Q|, bMod) integers
    val bks = slRows.flatMap(t => Seq(t._1 % bMod, t._2 % bMod))
      .distinct.sorted
    val vecs = readBucketed(s, s"$vdir/vectors", bucketVecSchema, bks)
    val slq = vecs.select(col("vec_id").as("q_id"), col("qe").as("qqe"))
      .join(broadcast(sl), Seq("q_id"))
    val ex = vecs.select(col("vec_id").as("c_id"), col("qe").as("cqe"))
      .join(broadcast(slq), Seq("c_id"))
      .select(col("q_id"), col("c_id"), sqd(col("qqe"), col("cqe")).as("exact_d2"))
    topK(ex, col("q_id"), k, col("exact_d2"), col("c_id"))
      .select(col("q_id"), col("c_id"), col("rnk"), col("exact_d2"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Shared top-k tail over an ADC aggregate (default 3 — every
    * oracled key's dial).
    */
  private[graft] def ivfPqTop3(adist: DataFrame, k: Int = 3): DataFrame =
    topK(adist, col("q_id"), k, col("ad"), col("c_id"))
      .select(col("q_id"), col("c_id"), col("rnk"), col("ad").as("approx_d2"))
      .orderBy(col("q_id"), col("rnk"))

  /** Staged, stamped on-disk IVF×PQ index over `embeddings.parquet` —
    * the stored-artifact form of sim_ivf_pq's in-memory composition
    * (FAISS persists exactly this: inverted lists of PQ codes plus the
    * coarse centroids and sub-quantizer codebooks; Jégou et al. 2011
    * §5.1). Layout under the returned dir:
    * `lists/shard=K/cell=N/` — (c_id, m, code) PQ codes
    * parquet-PARTITIONED by (shard = cell % 256, cell), so a query's
    * nprobe cells are literal partition directories and a serve scan
    * reads nothing else — the shard level (r17) bounds LISTING cost:
    * at the √n production geometry a 10⁹-vector index holds ~506k
    * cell directories, and a flat layout makes every serve's file
    * enumeration (NameNode listing on HDFS) walk all of them; the
    * serve now lists only the probed cells' shard subtrees
    * (~cells/256 dirs each, [[readLists]]); `centroids/` —
    * the cells coarse (cid, ce) rows from [[scaledLloydCent]] (cells =
    * max(8, ⌈n/125⌉), so per-query scanned codes stay FLAT as the
    * corpus grows); `codebook/` — the 8×4 (c, m, ce) sub-quantizer
    * rows. Built once per (source stamp, [[ivfIndexFormat]]) and
    * atomically published via [[graft.ops.stagedArtifact]] — the same
    * freshness/race contract as Text.stagedHsIndex.
    */
  /** shard = cell % 256 — the inverted-list DIRECTORY-SHARDING key
    * (r17). Dials: 256 shards keep the per-shard directory count at
    * cells/256 (~2k dirs per shard at the 10⁹-vector √n geometry) so
    * a probed cell's shard subtree lists in O(cells/256), while the
    * shard count itself stays a bounded top-level fan-out. pmod keeps
    * it total on any BIGINT cell id.
    */
  private val listShardMod = 256
  private def listShard(cell: Column): Column =
    pmod(cell, lit(listShardMod.toLong)).cast("int")

  /** schema of a sharded on-disk inverted-list dir (partition columns
    * last, both present so an explicit-schema read keeps `cell`
    * BIGINT without a filter-wrapping cast — r15 advice)
    */
  private val shardedListsSchema = "c_id BIGINT, m INT, code INT, shard INT, cell BIGINT"
  private val streamListsSchema = "c_id BIGINT, m INT, code INT, cell BIGINT"

  /** THE pruned inverted-list read every serve path routes through:
    * given the probed `cells`, return their (c_id, m, code, cell)
    * rows touching only those cells' storage. Two layouts, one
    * contract:
    * - a STREAM-SINK dir (`_spark_metadata` present — the live
    *   streamed index): read the ROOT so Spark enumerates files from
    *   the sink's commit log (the exactly-once view; file listing is
    *   log reads, not directory walks, so sharding buys nothing and
    *   bypassing the root would surface uncommitted files);
    * - a batch/compacted dir (`shard=K/cell=N` layout): read ONLY the
    *   probed cells' shard subtrees (basePath-anchored), so serve-time
    *   LISTING is O(nprobe · cells/256) instead of O(cells) — the
    *   NameNode-pressure fix for the √n geometry's ~506k cell dirs.
    * Both keep the literal `cell IN (…)` predicate on the partition
    * column (the spec-asserted PartitionFilters prune), so files-read
    * still equals the probed cell count. Existence probes go through
    * Hadoop FileSystem (r18 — `java.io.File` answers false for any
    * `hdfs://`/`s3a://` path, which would silently revert the shard
    * layer's listing bound to O(cells) exactly on cluster stores);
    * on any store these are ≤ 1 + nprobe driver-side stat calls.
    */
  private[graft] def readLists(s: SparkSession, listsPath: String,
      cells: Array[Long]): DataFrame = {
    val sel = (df: DataFrame) => df
      .filter(col("cell").isin(cells.map(java.lang.Long.valueOf): _*))
      .select(col("c_id"), col("m"), col("code"), col("cell"))
    if (graft.ops.hfsExists(s, s"$listsPath/_spark_metadata"))
      sel(s.read.schema(streamListsSchema).parquet(listsPath))
    else {
      val shardDirs = cells.map(c => (((c % listShardMod) + listShardMod) % listShardMod).toInt)
        .distinct.sorted
        .map(k => s"$listsPath/shard=$k")
        .filter(p => graft.ops.hfsIsDir(s, p))
      val r = s.read.option("basePath", listsPath).schema(shardedListsSchema)
      // no shard dir present (empty compacted artifact, or every
      // probed cell empty): the root read with the explicit schema
      // degrades to 0 rows instead of a missing-path error
      sel(if (shardDirs.isEmpty) r.parquet(listsPath)
          else r.parquet(shardDirs.toIndexedSeq: _*))
    }
  }

  private[graft] def stagedIvfPqIndex(s: SparkSession, d: String): String =
    stagedEmb(s, d, "ivfpq_index") { stage =>
      val (e0, enc, _) = pqParts(s, d)
      val cent = quantCent(s, d)
      // cell stays BIGINT (seed vec_ids exceed Int range at target
      // corpora — r15 advice; see the residual builder's note)
      val asg = coarseRanked(e0, cent, nprobe = 1,
          layer = Some(quantLayer(s, d)))
        .select(col("vec_id").as("c_id"), col("cid").as("cell"))
      writeIndex(s, d, stage, enc.join(asg, Seq("c_id")), cent, quantCbFlat(s, d))
    }

  /** THE stored IVF×PQ index: `lists/` plus a copy of the quantizer
    * it was encoded with (`centroids/`, `codebook/`, routing tables).
    */
  private def writeIndex(s: SparkSession, d: String, stage: String,
      lists: DataFrame, cent: DataFrame, cb: DataFrame): Unit = {
    writeLists(lists, s"$stage/lists")
    cent.write.mode("overwrite").parquet(s"$stage/centroids")
    cb.write.mode("overwrite").parquet(s"$stage/codebook")
    copyLayer(s, stagedIvfQuant(s, d), stage)
  }

  /** THE inverted-list writer: (c_id, m, code, cell) as
    * `shard=K/cell=N/`, cell-repartitioned so each cell is ONE file and
    * a serve reads nprobe files whatever the build parallelism.
    */
  private def writeLists(lists: DataFrame, path: String,
      parts: Option[Int] = None): Unit =
    parts.fold(lists.repartition(col("cell")))(n => lists.repartition(n, col("cell")))
      .withColumn("shard", listShard(col("cell")))
      .write.mode("overwrite").partitionBy("shard", "cell")
      .parquet(path)

  /** THE cell plan: the distinct probed cells of (…, pcell), sorted —
    * ≤ ncells integers, the literal list [[readLists]] prunes by.
    */
  private def cellPlan(probes: DataFrame): Array[Long] =
    probes.select(col("pcell").cast("bigint")).distinct()
      .collect().map(_.getLong(0)).sorted

  /** THE stored-index probe: route `e0q`(vec_id, qe) to `nprobe`
    * cells through the quantizer under `quantDir` and read only those
    * cells of `listsPath` — (centroids, cached probes, lists).
    */
  private def storedProbe(s: SparkSession, quantDir: String, listsPath: String,
      e0q: DataFrame, nprobe: Int): (DataFrame, DataFrame, DataFrame) = {
    val cent = s.read.parquet(s"$quantDir/centroids")
    val probes = eagerCache(coarseRanked(e0q, cent, nprobe,
        layer = Some(dirLayer(s, quantDir)))
      .select(col("vec_id").as("q_id"), col("cid").as("pcell")))
    (cent, probes, readLists(s, listsPath, cellPlan(probes)))
  }

  /** The three serve-side frames of `sim_ivf_pq_indexed` — (lists =
    * partition-PRUNED inverted-list scan, qd = query distance tables
    * from the stored codebook, probes = per-query cell plan) — the
    * body of [[ivfPqIndexedServe]]. `qBound` bounds the query
    * batch (vec_id < qBound); `nprobe` is the cells-per-query dial
    * (the oracled key serves the canonical 2).
    */
  private[graft] def ivfPqIndexedParts(s: SparkSession, d: String,
      qBound: Long, nprobe: Int): (DataFrame, DataFrame, DataFrame) = {
    val idx = stagedIvfPqIndex(s, d)
    val e0q = microVecs(s, d).filter(col("vec_id") < qBound)
    val (_, probes, lists) = storedProbe(s, idx, s"$idx/lists", e0q, nprobe)
    // query distance tables from the STORED codebook (32 rows)
    val qd = pqDist(e0q, Seq("vec_id"), "qe", s.read.parquet(s"$idx/codebook"), "ce")
      .select(col("vec_id").as("q_id"), col("m").as("qm"), col("c"), col("d2"))
    (lists, qd, probes)
  }

  /** Serve a query batch (vec_id < `qBound`) from the persisted
    * IVF×PQ index — the body of `sim_ivf_pq_indexed`, parameterized
    * over the batch bound so VectorOpsSpec can serve a SINGLE query
    * and measure that files-read tracks nprobe, not corpus size.
    */
  private[graft] def ivfPqIndexedServe(s: SparkSession, d: String,
      qBound: Long = 20L, nprobe: Int = 2): DataFrame = {
    val (lists, qd, probes) = ivfPqIndexedParts(s, d, qBound, nprobe)
    ivfPqTop3(ivfPqAdist(lists, qd, probes))
  }

  /** Staged, stamped on-disk RESIDUAL IVF×PQ index — the
    * by_residual=true twin of [[stagedIvfPqIndex]], proving the
    * PLANS.md claim that residual codes partition by cell exactly
    * like flat codes (FAISS stores them the same way): same
    * `lists/cell=N/` + `centroids/` + `codebook/` layout, the only
    * differences being the stored sub-codebook (learned from
    * residuals) and the codes it indexes.
    */
  private[graft] def stagedIvfPqResIndex(s: SparkSession, d: String): String =
    stagedEmb(s, d, "ivfpqres_index") { stage =>
      val e0 = microVecs(s, d)
      val cent = quantCent(s, d)
      val asg = coarseRanked(e0, cent, nprobe = 1,
          layer = Some(quantLayer(s, d)))
        .select(col("vec_id"), col("cid").as("cell"))
      val (cb, enc) = residualEncode(e0, cent, asg, quantCbRes(s, d))
      // `cell` stays BIGINT end-to-end: cell ids are seed vec_ids,
      // which on the corpora this design targets exceed Int range — an
      // ANSI-mode int cast would turn the build into a runtime crash
      // (r15 advice)
      writeIndex(s, d, stage, enc, cent, cb)
    }

  /** Serve a query batch from the persisted RESIDUAL index — the
    * body of `sim_ivf_pq_residual_indexed`: plan nprobe cells from
    * the stored cells-row centroid scan, read ONLY those cells' list
    * partitions (the literal IN list becomes PartitionFilters,
    * spec-asserted), build per-cell residual distance tables from the
    * STORED codebook, per-cell ADC aggregate, top-3.
    */
  private[graft] def ivfPqResIndexedServe(s: SparkSession, d: String,
      qBound: Long = 20L, nprobe: Int = 2): DataFrame = {
    val idx = stagedIvfPqResIndex(s, d)
    resIndexServe(s, d, s"$idx/lists", idx, qBound, nprobe)
  }

  /** Register the production ANN serve as an ENGINE TRANSFORM (r20,
    * VERDICT r19 #2). Mallard's model is named operations invoked
    * through the server (`do_exchange`, `flight_server.py:301-318`);
    * until now the capstone serves were reachable only as
    * driver-contract query builders. After registration a WIRE
    * client runs top-k against the PERSISTED residual IVF×PQ index
    * with `EXCHANGE <command> FROM <table>`: the exchange input is a
    * (vec_id, embedding) frame of QUERY vectors — any catalog table,
    * PUT server-side or CTAS'd over the wire — which the serve
    * quantizes with the index's own micro-unit projection, routes
    * `nprobe` cells through the STORED quantizer, ADC-aggregates
    * over the literal-partition-pruned lists (tombstones anti-joined
    * below the aggregate when supplied), and answers
    * (q_id, c_id, rnk, approx_d2). The query vectors are the
    * client's own — external ids never need to exist in the corpus
    * ([[resIndexAdistQ]]).
    */
  /** Run a serve body, copy its (small, wire-bound) result out of the
    * cluster, and RELEASE every block the serve persisted (r21, r20
    * advice): a registered wire exchanger is invoked once per EXCHANGE
    * on a long-running gate, and each invocation's serve-local state —
    * beamParts' final persisted round leaves, resIndexAdistQ's eagerly
    * cached probe frames — previously outlived the request, so the
    * block manager accumulated per-request blocks forever. The result
    * is ≤ k rows/query (it crosses the wire anyway), so collecting it
    * is the same driver-value class as the wire write; the unpersist
    * is the delta of persistent RDDs around the body (non-blocking,
    * lineage intact — a concurrent request whose block is swept merely
    * recomputes). The returned frame is a local-rows DataFrame, free
    * of references into the released plan.
    */
  private def servedRows(s: SparkSession)(body: => DataFrame): DataFrame = {
    val before = s.sparkContext.getPersistentRDDs.keySet
    val out = body
    val rows = out.collect()
    s.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before.contains(id) }
      .values.foreach(_.unpersist(false))
    s.createDataFrame(
      java.util.Arrays.asList(rows: _*), out.schema)
  }

  private[graft] def registerAnnServe(e: graft.engine.Engine, d: String,
      command: String = "ann_topk", nprobe: Int = 2, k: Int = 3,
      tombstones: Option[DataFrame] = None): Unit =
    e.registerExchanger(command) { qdf =>
      val s = qdf.sparkSession
      servedRows(s) {
        val idx = stagedIvfPqResIndex(s, d)
        val qFrame = qdf.select(col("vec_id"), microCol(col("embedding")).as("qe"))
        ivfPqTop3(
          resIndexAdistQ(s, s"$idx/lists", idx, qFrame, nprobe, tombstones), k)
      }
    }

  /** Register the GRAPH-ANN beam serve as an engine transform (r20) —
    * wire parity for the second production route: after
    * [[registerAnnServe]] exposed the IVF×PQ index serve, a wire
    * client could still not reach the HNSW-style beam serve. Same
    * exchange contract: the input is a (vec_id, embedding) frame of
    * query vectors (any catalog table; external ids need not exist in
    * the corpus), projected with the index's OWN micro-unit
    * quantization, descended through the persisted graph's super
    * layer and beam-expanded `rounds` times over the stored neighbor
    * lists ([[beamParts]] — the same code every oracled beam dial
    * pins), answering (q_id, c_id, rnk, d2) exact integer squared-L2
    * top-k. `labelMod`/`tomb` thread the filtered/tombstoned tiers
    * through the wire serve unchanged.
    */
  private[graft] def registerGraphAnnServe(e: graft.engine.Engine, d: String,
      command: String = "ann_topk_graph", beamW: Int = 8, rounds: Int = 3,
      k: Int = 3, labelMod: Option[Int] = None, tomb: Boolean = false): Unit =
    e.registerExchanger(command) { qdf =>
      val s = qdf.sparkSession
      servedRows(s) {
        val qF = qdf.select(col("vec_id").as("q_id"), microCol(col("embedding")).as("qq"))
        beamTopK(beamParts(s, d, beamW = beamW, rounds = rounds,
          labelMod = labelMod, tomb = tomb, qFrame = Some(qF)), k)
      }
    }

  /** A served beam's final top-k by (d2, c_id) — (q_id, c_id, rnk, d2);
    * the three unfiltered beam keys and the wire serve share it.
    */
  private def beamTopK(beam: DataFrame, k: Int = 3): DataFrame =
    topK(beam, col("q_id"), k, col("d2"), col("c_id"))
      .select(col("q_id"), col("c_id"), col("rnk"), col("d2"))

  /** The shared residual-serve tail: plan nprobe cells from the
    * stored centroids under `quantDir`, prune the `listsPath` scan to
    * those cells, rebuild the per-cell query tables from the stored
    * codebook, ADC-aggregate, top-3. One implementation serving BOTH
    * the batch-built index (`sim_ivf_pq_residual_indexed`) and the
    * stream-maintained one (`stream_ivfpq_index`) — the lists'
    * lineage (batch rewrite vs streaming appends) is the ONLY
    * difference between those keys, so the serve must not fork.
    */
  private[graft] def resIndexServe(s: SparkSession, d: String,
      listsPath: String, quantDir: String,
      qBound: Long = 20L, nprobe: Int = 2,
      tombstones: Option[DataFrame] = None, k: Int = 3): DataFrame =
    ivfPqTop3(
      resIndexAdist(s, d, listsPath, quantDir, qBound, nprobe, tombstones), k)

  /** [[resIndexServe]] up to the ADC aggregate — exposed so
    * `sim_ivf_pq_serve` can re-rank the probed+tombstoned shortlist
    * exactly instead of taking the ADC top-3.
    */
  private[graft] def resIndexAdist(s: SparkSession, d: String,
      listsPath: String, quantDir: String,
      qBound: Long = 20L, nprobe: Int = 2,
      tombstones: Option[DataFrame] = None): DataFrame =
    resIndexAdistQ(s, listsPath, quantDir,
      microVecs(s, d).filter(col("vec_id") < qBound), nprobe, tombstones)

  /** [[resIndexAdist]] over an ARBITRARY micro-unit query frame
    * (vec_id, qe) — the engine-facade serve's entry point (r20,
    * VERDICT r19 #2): a wire client's query vectors are not corpus
    * rows, so the serve cannot derive them from `vec_id < qBound`.
    * Same stored-quantizer routing, same pruned-list ADC chain.
    */
  private[graft] def resIndexAdistQ(s: SparkSession,
      listsPath: String, quantDir: String, e0q: DataFrame,
      nprobe: Int = 2, tombstones: Option[DataFrame] = None): DataFrame = {
    val (cent, probes, lists0) = storedProbe(s, quantDir, listsPath, e0q, nprobe)
    // logical deletes: the tombstone anti-join sits BELOW the ADC
    // aggregate, so a deleted vector can never reach a shortlist (a
    // post-top-k filter would silently under-return instead) — the
    // tombstone side is delete-set-sized and broadcast
    val lists = tombstones.fold(lists0)(t =>
      lists0.join(broadcast(t.select(col("c_id"))), Seq("c_id"), "left_anti"))
    val cb = s.read.parquet(s"$quantDir/codebook")
    adc(lists, residualQueryTables(e0q, cent, probes, cb))
  }

  /** The PER-QUERY-WIDTH production serve (r19, VERDICT r18 #2):
    * `sim_ivf_filtered_perq` proved the serving-rule width formula on
    * the in-memory chain; this threads it into the PERSISTED residual
    * IVF×PQ index. One call serves a mixed-selectivity label-filtered
    * batch: each query's probe width is computed from the label
    * histogram (w = clamp(⌈3k·n / (cnt·perCell)⌉, 2, cells/4)), the
    * query frame routes ONCE through the STORED quantizer at the
    * batch max width and trims to rn ≤ w per query (the
    * [[filteredPerQueryW]] batch semantics — see its doc for what the
    * trim does and does not guarantee), the union of per-query probe
    * sets becomes the literal PartitionFilters cell plan over the
    * stored lists, the ADC scan pairs each query only with candidates
    * of its wanted label (vec_id-derived — no stored metadata
    * column), and a query whose clamped width cannot be expected to
    * fill k (cnt·w·perCell < k·n) flips to pre-filtered exact search
    * (the ACORN fallback). The FULL capstone tiers ride along (r19):
    * the tombstone anti-join sits below the ADC aggregate on the ivf
    * route and below the scan on the exact route (a deleted vector
    * can never reach a shortlist on either), and the ivf route's ADC
    * top-32 shortlist re-ranks EXACTLY through the bucket-staged
    * float fetch ([[exactRerank]]) — so `d2` is the exact integer L2
    * on BOTH routes and the output is what the one-call production
    * serve would return under a per-query width policy. w and route
    * are OUTPUT columns, so the oracle hash pins the formula.
    * (shortlist, k) thread through the refine tail (r20, VERDICT r19
    * #3): `k` parameterizes the width formula, the exact route's
    * top-k, AND the ivf route's re-rank cut; `shortlist` is the ADC
    * shortlist the re-rank fetches. Defaults (32 → 3) preserve every
    * oracled hash.
    */
  private[graft] def resIndexServePerQ(s: SparkSession, d: String,
      k: Int = 3, qBound: Long = filteredQBound,
      shortlist: Int = 32): DataFrame = {
    val idx = stagedIvfPqResIndex(s, d)
    val e0 = microVecs(s, d)
    val e0L = e0.select(col("vec_id"),
      tierLabelCol("vec_id").as("label"), col("qe"))
    val n = e0.count()
    val cent = s.read.parquet(s"$idx/centroids")
    val cells = cent.count()
    // the width/route table: |Q| rows, every column integer so the
    // DuckDB twin carries the SAME arithmetic — built by the ONE
    // shared serving-rule builder (r19 advice: this block and
    // filteredPerQueryW's must not drift)
    val qw = eagerCache(widthRouteTable(e0L, n, ivfPerCell, cells,
      tierWantedCol, k, col("vec_id") < qBound))
    // ONE collect of the width table (≤ |Q| rows — the same
    // driver-value class as the cell plans) feeds the batch max
    // width AND the exact route's wanted-label IN-list, instead of
    // two separate driver actions
    val qwRows = qw.select(col("route"), col("w"), col("w_label")).collect()
    val wMax = qwRows.filter(_.getString(0) == "ivf")
      .map(_.getLong(1)).reduceOption(_ max _).getOrElse(2L).toInt
    val e0q = e0.filter(col("vec_id") < qBound)
    val probeR = coarseRanked(e0q, cent, nprobe = wMax,
      layer = Some(dirLayer(s, idx)))
    val probes = eagerCache(qw.filter(col("route") === "ivf")
      .select(col("q_id"), col("w"), col("w_label"))
      .join(probeR.select(col("vec_id").as("q_id"),
        col("cid").as("pcell"), col("rn")), Seq("q_id"))
      .filter(col("rn") <= col("w"))
      .select(col("q_id"), col("pcell"), col("w"), col("w_label")))
    // the cell plan: the union of per-query probe sets
    val cellsArr = cellPlan(probes)
    // logical deletes below every distance: the same % 17 tombstone
    // set as sim_ivf_pq_deletes/_serve, anti-joined under the ADC
    // aggregate AND under the exact-route scan
    val lists = readLists(s, s"$idx/lists", cellsArr)
      .join(broadcast(tombstones(e0)), Seq("c_id"), "left_anti")
    val cb = s.read.parquet(s"$idx/codebook")
    val qd = residualQueryTables(e0q, cent,
      probes.select(col("q_id"), col("pcell")), cb)
    // per-query width + wanted label ride into the broadcast side of
    // the ADC join; the label predicate pairs each query only with
    // its wanted candidates — computed from c_id, below the aggregate
    val adist = adc(lists, qd.join(broadcast(qw.select(col("q_id"), col("w"),
        col("w_label"))), Seq("q_id")),
      extra = Some(tierLabelCol("c_id") === col("w_label")))
    // ivf route: ADC top-`shortlist` → EXACT re-rank through the
    // bucket-staged float fetch (the capstone's refine tier, at
    // per-query widths); w re-attaches from the width table
    val ivfOut = exactRerank(s, d, adist, shortlist, k)
      .join(broadcast(qw.select(col("q_id"), col("w"))), Seq("q_id"))
      .select(col("q_id"), col("w"), col("c_id"), col("rnk"),
        col("exact_d2").as("d2"))
      .withColumn("route", lit("ivf"))
    // EXACT side: the sparse sliver — wanted labels of the exact
    // queries (≤ |Q| ints, the pushable predicate), tombstones
    // filtered, exact top-k
    val qe2 = qw.filter(col("route") === "exact")
    val wantedEx = qwRows.filter(_.getString(0) == "exact")
      .map(_.getInt(2)).distinct.sorted
    val scan = (if (wantedEx.isEmpty) e0L.filter(lit(false))
      else e0L.filter(col("label").isin(wantedEx.map(Integer.valueOf).toIndexedSeq: _*)))
      .filter(col("vec_id") % 17 =!= 3)
    val exOut = topK(scan.select(col("vec_id").as("c_id"),
        col("label").as("c_label"), col("qe").as("ce2"))
      .join(broadcast(qe2), col("c_label") === col("w_label")
          && col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("w"), col("c_id"),
        sqd(col("qq"), col("ce2")).as("d2")), col("q_id"), k, col("d2"), col("c_id"))
      .withColumn("route", lit("exact"))
    ivfOut.unionByName(exOut)
      .select(col("route"), col("q_id"), col("w"), col("c_id"),
        col("rnk"), col("d2"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Streaming maintenance of the persisted residual IVF×PQ index —
    * the FAISS `add()` path as a Structured Streaming job. The
    * quantizers (cells coarse centroids + the 32-row residual codebook)
    * are trained ONCE by the batch build and FROZEN — the production
    * reality for IVF indexes: re-training the quantizers re-keys every
    * stored code, so arriving vectors are encoded with the shipped
    * quantizers (exactly what FAISS workers hold in RAM). Here that
    * means two metadata-sized collects at stream start shipped as
    * BROADCAST arrays into a stateless typed mapPartitions encode, so
    * each micro-batch plans as Scan → MapPartitions → FileSink — ZERO
    * exchanges, no state store, no join, and O(1) plan size at ANY
    * cell count (a literal-expression encode — the previous shape —
    * was measured to stop compiling usefully near ~1,000 cells):
    * every arriving vector appends to its `cell=N/` directory and the
    * index the serve path reads is current after each commit. The
    * encode is pure Long arithmetic on exact integers (< 2⁴⁷), so the
    * streamed codes are bit-equal to the batch [[residualEncode]]'s
    * exact double folds — the spec asserts list set-equality and the
    * key's oracle is the same `ivfPqResidualOracle` as the in-memory
    * and batch-indexed forms. Exactly-once across restarts via the
    * checkpointed file sink (the stream_embed_index machinery).
    */
  private[graft] def streamIvfPqIngest(s: SparkSession, d: String,
      srcDir: Option[String] = None, fixedPath: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): String = {
    val quantDir = stagedIvfPqResIndex(s, d)
    // the frozen quantizers ship to executors as BROADCAST arrays —
    // exactly what a FAISS worker holds in RAM — NOT as literal
    // expressions: a literal-tree encode is O(cells·dim) PLAN SIZE and
    // was measured to stop compiling usefully near ~1,000 cells
    // (SCALE.md, ivfstream factor 64), while the broadcast keeps the
    // plan O(1) at any cell count. Element type matches the stored
    // schema (floor() is LongType → array<bigint>), and the encode is
    // pure Long arithmetic: every distance is an exact integer
    // (components < 2²⁰, 64-term sums < 2⁴⁷), so comparisons — and the
    // (d2, id) tie-breaks — are bit-identical to the batch
    // residualEncode's double folds, which are exact on the same
    // integers (spec-asserted list equality).
    // GEOMETRY-RULE GUARD (r18, VERDICT r17 #3): these collects are
    // O(cells) driver state, bounded ONLY by the serving-geometry
    // rule (SCALE.md: cells ≤ 16√n, ≈5M cells even at 10¹¹ vectors ≈
    // 3 GB of quantizer — ordinary driver/executor RAM). A caller who
    // ignores the rule (perCell ~ O(1) ⇒ cells ∝ n) would discover it
    // as a driver OOM mid-collect; fail BEFORE collecting, naming the
    // rule, instead. Budget: 6M cells / 4 GiB estimated heap (64
    // Longs + tuple/array headers ≈ 600 B per centroid row).
    val ncells = s.read.parquet(s"$quantDir/centroids").count()
    val estBytes = ncells * 600L
    require(ncells <= 6000000L && estBytes <= (4L << 30),
      s"streamIvfPqIngest: the frozen quantizer holds $ncells cells " +
        s"(≈$estBytes B collected to the driver) — outside the 16√n " +
        "serving-geometry rule's broadcast budget (6M cells / 4 GiB). " +
        "Re-train with perCell ≥ √n/16 (SCALE.md geometry rule); an " +
        "out-of-rule quantizer cannot be streamed against.")
    val cents: Array[(Long, Array[Long])] = s.read.parquet(s"$quantDir/centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    // the staged TWO-LEVEL routing tables ([[superLayer]], written by
    // the index build so the stream cannot drift from the DataFrame
    // math): √cells super-centroids + the (cid → sid) child map as
    // positions into the cid-sorted centroid array. Per-row routing is
    // now O(sups + cells/sups) = O(√cells) — the flat form scanned all
    // cells per arriving row, i.e. total ingest O(n²/perCell) once
    // cells ∝ n (the r15 scale-blocker; SCALE.md's ivfstream octave
    // measured the per-row cost flat through ≥4,096 cells).
    val supers: Array[(Long, Array[Long])] = s.read.parquet(s"$quantDir/supers")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    val childIdx: Map[Long, Array[Int]] = {
      val pos = cents.iterator.map(_._1).zipWithIndex.toMap
      s.read.parquet(s"$quantDir/children").collect()
        .map(r => (r.getLong(1), r.getLong(0)))
        .groupBy(_._1)
        .map { case (sid, arr) => sid -> arr.map(a => pos(a._2)).sorted }
    }
    val cbk: Array[Array[(Int, Array[Long])]] = {
      val byM = s.read.parquet(s"$quantDir/codebook")
        .collect().map(r => (r.getInt(1), (r.getInt(0), r.getSeq[Long](2).toArray)))
        .groupBy(_._1)
      Array.tabulate(8)(m => byM(m).map(_._2).sortBy(_._1))
    }
    val bcCent = s.sparkContext.broadcast(cents)
    val bcSup = s.sparkContext.broadcast(supers)
    val bcChl = s.sparkContext.broadcast(childIdx)
    val bcCbk = s.sparkContext.broadcast(cbk)
    val ss = graft.streaming.Streams.session(s)
    val idx = fixedPath.getOrElse(graft.ops.scratchRunDir(s, "ivfpq_stream"))
    val reader = ss.readStream.schema(embSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    import ss.implicits._
    val codes = reader.parquet(srcDir.getOrElse(
        graft.streaming.Streams.replayDir(s, d, "embeddings", "stream_emb")))
      .select(col("vec_id"), microCol(col("embedding")).as("qe"))
      .as[(Long, Seq[Long])]
      // stateless typed projection: per row, one argmin over the
      // √cells broadcast SUPER-centroids, one argmin over the routed
      // super's children, one residual, 8 sub-codebook argmins —
      // emits the 8 (c_id, cell, m, code) rows directly. Still a
      // zero-exchange micro-batch plan (Scan → MapPartitions →
      // FileSink); no state store, no join. Memory note: executors
      // hold the FULL centroid array (the shipped-quantizer reality —
      // FAISS workers hold exactly this in RAM), and under the
      // PLANS.md geometry rule that is BOUNDED, not a scaling risk:
      // production cells = [4√n, 16√n], so even 10¹¹ vectors price
      // the array at 16√10¹¹ ≈ 5.1M cells × ~620 B ≈ 3 GB — executor
      // RAM, not corpus-proportional. The once-documented
      // repartition-by-routed-super fallback is SUBSUMED by that
      // rule (r17): the only regime where the array outgrows RAM is
      // cells ∝ n/125 past ~10⁷ vectors, which the geometry rule
      // itself forbids — see PLANS.md "beyond-RAM fallback:
      // subsumed".
      .mapPartitions { it =>
        val cs = bcCent.value
        val sup = bcSup.value
        val chl = bcChl.value
        val books = bcCbk.value
        it.flatMap { case (id, qeSeq) =>
          val qe = qeSeq.toArray
          // level 1: TOP-2 super-centroids by (d2, sid) — sup is
          // sid-sorted and the comparisons are strict, so ties keep
          // the lower sid, bit-matching the batch MinPairW(2) aggregate
          var d1 = Long.MaxValue; var s1 = -1
          var d2v = Long.MaxValue; var s2 = -1
          var si = 0
          while (si < sup.length) {
            val se = sup(si)._2
            var dd = 0L; var j = 0
            while (j < 64) { val x = qe(j) - se(j); dd += x * x; j += 1 }
            if (dd < d1) { d2v = d1; s2 = s1; d1 = dd; s1 = si }
            else if (dd < d2v) { d2v = dd; s2 = si }
            si += 1
          }
          // level 2: nearest child over BOTH routed supers' children.
          // The two child lists are cid-ascending individually but
          // not jointly, so ties compare (d2, cid) explicitly —
          // matching the batch window's (d2c, cid) order
          var bestD = Long.MaxValue; var bestI = -1
          def scanKids(s0: Int): Unit = if (s0 >= 0) {
            val kids = chl(sup(s0)._1)
            var ki = 0
            while (ki < kids.length) {
              val ce = cs(kids(ki))._2
              var dd = 0L; var j = 0
              while (j < 64) { val x = qe(j) - ce(j); dd += x * x; j += 1 }
              if (dd < bestD ||
                  (dd == bestD && cs(kids(ki))._1 < cs(bestI)._1)) {
                bestD = dd; bestI = kids(ki)
              }
              ki += 1
            }
          }
          scanKids(s1); scanKids(s2)
          val cell = cs(bestI)._1
          val ce = cs(bestI)._2
          val res = new Array[Long](64)
          var j = 0
          while (j < 64) { res(j) = qe(j) - ce(j); j += 1 }
          (0 until 8).map { m =>
            val codes = books(m)
            var bd = Long.MaxValue; var bc = -1
            var c = 0
            while (c < codes.length) {
              val cv = codes(c)._2
              var dd = 0L; var k = 0
              while (k < 8) { val x = res(m * 8 + k) - cv(k); dd += x * x; k += 1 }
              if (dd < bd) { bd = dd; bc = codes(c)._1 } // codes c-sorted: ties keep lowest
              c += 1
            }
            (id, cell, m, bc)
          }
        }
      }
      .toDF("c_id", "cell", "m", "code")
    graft.streaming.Streams.toParquet(codes, idx, "cell")
    idx
  }

  /** Compact a stream-maintained index's lists to ONE file per cell —
    * the consolidation answer SCALE.md's ivfstream table points at:
    * file count in a streamed index grows with commit history
    * (commits × writing tasks per cell), not data, so a long-running
    * ingest accumulates small files that tax every serve-time scan.
    * Reads the sink's exactly-once view (the `_spark_metadata` log —
    * uncommitted files are invisible, so compaction can run while the
    * stream is live), rewrites `repartition(cells, cell)` +
    * `partitionBy(cell)` (each cell lands wholly in one task → one
    * file), and publishes through the stamped atomic-move machinery
    * keyed by the LAST COMMITTED BATCH ID — re-compaction is a no-op
    * until new commits land, and readers switch directories atomically
    * (the BatchLog generation-consolidation story, applied to the
    * vector index). Returns the artifact dir; lists under `/lists`.
    */
  private[graft] def compactStreamedLists(s: SparkSession, streamIdx: String,
      tombstones: Option[DataFrame] = None): String = {
    // Hadoop-FS batch-log listing (r18): the commit log lives next to
    // the sink's data, i.e. on the CLUSTER store in production
    val metaFiles = graft.ops.hfsList(s, s"$streamIdx/_spark_metadata")
    val lastBatch = metaFiles
      .map(_.getPath.getName.takeWhile(_.isDigit)).filter(_.nonEmpty).map(_.toLong)
      .reduceOption(_ max _).getOrElse(-1L)
    // physical deletion happens HERE: tombstoned rows are dropped from
    // the rewrite, reclaiming storage and serve-scan cost. The artifact
    // stamp is content-addressed over the delete set (the BatchLog
    // move), so compacting with a GROWN delete set rebuilds while a
    // repeat call with the same set no-ops. Delete sets are tiny
    // relative to the corpus (revocations, not data), so the digest
    // collect is metadata-sized.
    val tsStamp = tombstones.fold("") { t =>
      ":" + t.agg(md5(concat_ws(",",
        sort_array(collect_list(col("c_id").cast("string"))))))
        .collect()(0).getString(0)
    }
    val key = streamIdx.replaceAll("[^A-Za-z0-9.]", "_")
    // live-stream safety for the degenerate window: an index whose
    // stream has committed NO data yet cannot even be schema-inferred —
    // publish an empty artifact instead of crashing; the next
    // compaction (new batch stamp) picks up the data. The check reads
    // the SAME committed view the rewrite reads (_spark_metadata): a
    // live stream may already have WRITTEN cell= files for a batch it
    // has not committed, so a raw directory listing would say "data"
    // while the committed view is empty — exactly the crash this
    // guard exists to prevent
    val hasData = lastBatch >= 0 && {
      val (mfs, _) = graft.ops.hfs(s, s"$streamIdx/_spark_metadata")
      metaFiles
        .filter(f => f.isFile && f.getPath.getName.takeWhile(_.isDigit).nonEmpty)
        .exists(f => graft.ops.hfsReadText(mfs, f.getPath).contains("\"path\""))
    }
    graft.ops.stagedArtifact(s, s"ivfpq_compact_$key",
        s"batch:$lastBatch$tsStamp:$ivfIndexFormat") { stage =>
      if (!hasData) {
        graft.ops.hfsMkdirs(s, s"$stage/lists")
      } else {
        val base = s.read.parquet(streamIdx)
        val lists = tombstones.fold(base)(t =>
          base.join(broadcast(t.select(col("c_id"))), Seq("c_id"), "left_anti"))
        // max(1, …): commits whose every row was tombstoned leave zero
        // cells in the rewrite input — keep repartition legal
        val nc = math.max(1, lists.select(col("cell")).distinct().count().toInt)
        writeLists(lists, s"$stage/lists", Some(nc))
      }
    }
  }

  /** Query-batch bound shared by the filtered-ANN twins: the oracle
    * CTEs carry the SAME literal as [[filteredTop3]]'s default — a
    * caller dialing a non-default qBound must thread it through BOTH
    * sides (r17 ADVICE: the hardcoded `vec_id < 20` here would
    * silently diverge from a Spark call at another bound).
    */
  private val filteredQBound: Long = 20L

  /** DuckDB twin of the filtered-IVF chain (`sim_ivf_filtered`, its
    * probe-8 dial and the adaptive key's dense branch) — CTEs through
    * `p` (q_id, c_id, c_label, d2); `labelExpr` is the label column
    * expression over embeddings (fixture column or synthetic
    * vec_id-derived), `labelMod` the wanted-label modulus. It mirrors
    * [[filteredTop3]]'s r17 SPLIT routing: the corpus
    * ASSIGNMENT ranks through the w = 2 `dd` chain (only rn = 1 is
    * consumed), while nprobe > 2 adds a SECOND rank CTE (`dq`) over
    * the query frame alone at w = nprobe — mirroring, op for op, the
    * Spark side's refusal to multiply every corpus row's O(√cells)
    * routing by nprobe/2 when only 20 query rows need the width.
    */
  private def filteredIvfCtes(labelExpr: String, labelMod: Int,
      nprobe: Int = 2, qBound: Long = filteredQBound): String = {
    val wideQ =
      if (nprobe <= 2) ""
      else s"""qf AS (SELECT vec_id, qe FROM e WHERE vec_id < $qBound),
              |${twoLevelRankCtes("cl", "qf", "vec_id", "qe", "dq", nprobe)},
              |""".stripMargin
    val probeRel = if (nprobe <= 2) "dd" else "dq"
    s"""${D.ivf(D.microRel(extra = s"$labelExpr AS label, "))},
       |$wideQ${D.cellCand("e.label AS c_label, ")},
       |probes AS (SELECT e.vec_id AS q_id, e.label AS q_label, e.qe AS qq, $probeRel.cid AS pcell
       |           FROM e JOIN $probeRel ON $probeRel.vec_id = e.vec_id AND $probeRel.rn <= $nprobe
       |           WHERE e.vec_id < $qBound),
       |p AS (SELECT q.q_id, c.c_id, c.c_label, ${D.sqdInt("q.qq", "c.ce2")} AS d2
       |      FROM probes q JOIN cand c
       |        ON c.cell = q.pcell AND c.c_label = (q.q_label + 1) % $labelMod
       |           AND c.c_id <> q.q_id)""".stripMargin
  }

  /** Pre-filtered EXACT search — the sparse side of the ACORN switch:
    * the corpus scan keeps only the query batch's wanted labels (a
    * pushable predicate; ≤ |Q| distinct values collected — metadata-
    * sized), then exact integer top-3 over the surviving sliver with
    * the per-query predicate in the join. Same output schema as
    * [[filteredTop3]].
    */
  private[graft] def exactFilteredTop3(e0: DataFrame, labelMod: Int,
      qBound: Long = filteredQBound): DataFrame = {
    val q = e0.filter(col("vec_id") < qBound)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("qe").as("qq"))
    // the batch's wanted-label set: ≤ |Q| ints, the predicate a
    // production scan pushes to the files
    val wanted = q.select(pmod(col("q_label") + 1, lit(labelMod)).cast("int"))
      .distinct().collect().map(_.getInt(0)).sorted
    val cand = e0.filter(col("label").isin(wanted.map(Integer.valueOf): _*))
      .select(col("vec_id").as("c_id"), col("label").as("c_label"),
        col("qe").as("ce2"))
    labeledTop3(cand.join(broadcast(q),
        col("c_label") === pmod(col("q_label") + 1, lit(labelMod))
          && col("c_id") =!= col("q_id")))
  }

  /** The shared tail of both filtered routes: exact d2 of the
    * (qq, ce2) pairs, per-query top-3, (q_id, c_id, c_label, rnk, d2).
    */
  private def labeledTop3(pairs: DataFrame): DataFrame =
    topK(pairs.select(col("q_id"), col("c_id"), col("c_label"),
        sqd(col("qq"), col("ce2")).as("d2")), col("q_id"), 3, col("d2"), col("c_id"))
      .select(col("q_id"), col("c_id"), col("c_label"), col("rnk"), col("d2"))
      .orderBy(col("q_id"), col("rnk"))

  /** The ACORN-style selectivity switch over a labeled micro-unit
    * frame: from the label histogram (one metadata-sized aggregate),
    * route the batch to PRE-FILTERED EXACT search when even the most
    * common label cannot be expected to fill k from the probed cells
    * — maxLabelCnt · nprobe · perCell < k · n, all integers, so the
    * decision is deterministic and both engines' twins agree — else
    * to the IVF route. A genuine plan flip (driver-side branch), not
    * a filtered union of both subtrees: the spec asserts the sparse
    * plan carries no probe join and the dense plan does.
    */
  private[graft] def filteredAdaptive(e0L: DataFrame, labelMod: Int,
      nprobe: Int = 2, perCell: Long = ivfPerCell, k: Int = 3,
      qBound: Long = filteredQBound, cent: Option[DataFrame] = None,
      layer: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val n = e0L.count()
    val maxCnt = e0L.groupBy(col("label")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    if (maxCnt * nprobe * perCell < k.toLong * n)
      exactFilteredTop3(e0L, labelMod, qBound)
    else filteredTop3(e0L, nprobe, labelMod, qBound, cent, layer)
  }

  /** sim_ivf_filtered's chain over any LABELED micro-unit frame
    * (vec_id, label, qe): probe nprobe cells, join candidates on
    * (cell, wanted-label = (query label + 1) mod `labelMod`) with the
    * predicate inside the join, per-query top-3 by exact d2. `nprobe`
    * and `labelMod` (filter selectivity ≈ 1/labelMod) are the dials
    * the filtered keys and VectorOpsSpec turn: a filter of selectivity s
    * thins each probed cell to s·|cell|, so keeping k matches needs
    * nprobe ∝ 1/s — measured in SCALE.md.
    */
  private[graft] def filteredTop3(e0: DataFrame, nprobe: Int = 2,
      labelMod: Int = 10, qBound: Long = filteredQBound,
      cent: Option[DataFrame] = None,
      layer: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    // oracled keys pass the staged trained quantizer + routing layer;
    // probe callers over synthetic corpora (no staged artifact) train
    // and derive on the fly — ONCE, shared by both routing calls below
    val centF = cent.getOrElse(scaledLloydCent(e0))
    val lay = layer.getOrElse(superLayer(centF))
    // CORPUS assignment routes at the fixed w = 2 (only rn = 1 is
    // consumed — an item's cell); the nprobe-WIDE routing runs on the
    // QUERY frame alone. Routing the whole corpus at w = nprobe would
    // multiply the O(√cells)-per-item assignment cost by nprobe/2 for
    // zero benefit — at the serving rule's nprobe = 8–24 dials that
    // is the difference between an O(n√cells) and an O(n·nprobe·
    // √cells/2) build. Per-item rankings are independent, so the
    // query frame's rn ≤ nprobe here is bit-identical to filtering
    // the same items out of a whole-corpus wide routing (the w = 2
    // oracled keys are doubly unaffected: both calls route w = 2).
    val asgR = eagerCache(coarseRanked(e0, centF,
      nprobe = math.min(nprobe, 2), layer = Some(lay)))
    val probeR =
      if (nprobe <= 2) asgR
      else eagerCache(coarseRanked(e0.filter(col("vec_id") < qBound),
        centF, nprobe, layer = Some(lay)))
    val cand = cellCand(e0, asgR, col("label").as("c_label"))
    val probes = e0.filter(col("vec_id") < qBound)
      .join(probeR.filter(col("vec_id") < qBound)
        .filter(col("rn") <= nprobe)
        .select(col("vec_id"), col("cid").as("pcell")), Seq("vec_id"))
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("qe").as("qq"), col("pcell"))
    labeledTop3(cand.join(broadcast(probes),
        col("cell") === col("pcell")
          && col("c_label") === (col("q_label") + 1) % labelMod
          && col("c_id") =!= col("q_id")))
  }

  /** Each vector of `e0` in its rn = 1 cell of `ranked`. */
  private def cellCand(e0: DataFrame, ranked: DataFrame, extra: Column*): DataFrame =
    e0.join(ranked.filter(col("rn") === 1)
        .select(col("vec_id"), col("cid").as("cell")), Seq("vec_id"))
      .select((col("vec_id").as("c_id") +: extra) ++ Seq(col("qe").as("ce2"), col("cell")): _*)

  /** PER-QUERY probe width from the serving rule (r18, VERDICT r17
    * #4). SCALE.md's ivffilter table verified nprobe ≈ 2–3 ×
    * k/(s·|cell|) to the decimals, and both s and k are known at
    * query time — so the width is COMPUTED per query instead of
    * dialed per batch: from the label histogram (bounded-domain
    * aggregate), each query's wanted-label count `cnt` gives
    *   wRaw = ⌈3k·n / (cnt·perCell)⌉   (the rule at its 3× headroom),
    *   w    = min(max(wRaw, 2), cells/4), then the ACORN flip —
    * a query whose even-clamped width cannot be expected to fill k
    * (cnt·w·perCell < k·n) routes to pre-filtered exact search.
    * All arithmetic is integer, so the DuckDB twin carries the SAME
    * formula and the hash match pins it. Serving shape: the query
    * frame routes ONCE at the batch's max width (one scalar — the
    * only extra driver value; the histogram join, n, and cells are
    * the same metadata-sized reads every serve path already does)
    * and each query trims to its own w. NOTE the exact semantics
    * (r18 advice): the trim keeps each query's top-w SUPERS OF THE
    * top-wMax routing, which is not in general the same super set as
    * routing that query alone at max(2, w) — a super ranked beyond a
    * query's own two-level width can hold a closer child, so a
    * query's probe set (and thus its results) may depend on which
    * other queries share its batch. The batch routing is ≥ as
    * accurate (it considers at least as many supers per query), and
    * the DuckDB twin carries the SAME wMax computation, so the hash
    * pins this batch semantics — not a per-query-routing equivalence.
    * Corpus assignment stays on the w = 2 chain (rn = 1 only), per
    * the r17 split.
    */
  private[graft] def filteredPerQueryW(e0L: DataFrame, n: Long,
      perCell: Long, cent: DataFrame, lay: (DataFrame, DataFrame),
      wantedOf: Column => Column, k: Int = 3,
      qBound: Long = filteredQBound,
      qPred: Option[Column] = None)
      : DataFrame = {
    val cells = cent.count()
    // qPred (r20): an explicit query-set predicate — the
    // batch-dependence spec serves SOLO queries through the same
    // chain; None = the oracled keys' vec_id < qBound batch
    val qp = qPred.getOrElse(col("vec_id") < qBound)
    val qw = eagerCache(
      widthRouteTable(e0L, n, perCell, cells, wantedOf, k, qp))
    // the batch's max width — ONE integer, the literal the wide
    // routing needs at plan time (same driver-value class as the
    // cell plans)
    val wMax = qw.filter(col("route") === "ivf")
      .agg(coalesce(max(col("w")), lit(2L))).collect()(0).getLong(0).toInt
    def cut(df: DataFrame): DataFrame = topK(df, col("q_id"), k, col("d2"), col("c_id"))
    // IVF side: route the query frame once at wMax, trim per query
    val probeR = coarseRanked(e0L.filter(qp), cent,
      nprobe = wMax, layer = Some(lay))
    val cand = cellCand(e0L, coarseRanked(e0L, cent, nprobe = 2, layer = Some(lay)),
      col("label").as("c_label"))
    val probes = qw.filter(col("route") === "ivf")
      .join(probeR.select(col("vec_id").as("q_id"),
        col("cid").as("pcell"), col("rn")), Seq("q_id"))
      .filter(col("rn") <= col("w"))
    val ivfCand = cand.join(broadcast(probes),
        col("cell") === col("pcell") && col("c_label") === col("w_label")
          && col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("w"), col("c_id"), col("c_label"),
        sqd(col("qq"), col("ce2")).as("d2"))
    val ivfOut = cut(ivfCand).withColumn("route", lit("ivf"))
    // EXACT side: the sparse sliver — wanted labels of the exact
    // queries (≤ |Q| ints, the pushable predicate), exact top-k
    val qe2 = qw.filter(col("route") === "exact")
    val wantedEx = qe2.select(col("w_label").cast("int")).distinct()
      .collect().map(_.getInt(0)).sorted
    val scan = if (wantedEx.isEmpty) e0L.filter(lit(false))
      else e0L.filter(col("label").isin(wantedEx.map(Integer.valueOf).toIndexedSeq: _*))
    val exOut = cut(scan.select(col("vec_id").as("c_id"),
        col("label").as("c_label"), col("qe").as("ce2"))
      .join(broadcast(qe2), col("c_label") === col("w_label")
          && col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("w"), col("c_id"), col("c_label"),
        sqd(col("qq"), col("ce2")).as("d2")))
      .withColumn("route", lit("exact"))
    ivfOut.unionByName(exOut)
      .select(col("route"), col("q_id"), col("w"), col("c_id"),
        col("c_label"), col("rnk"), col("d2"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** The serving-rule WIDTH/ROUTE table — ONE definition shared by
    * [[filteredPerQueryW]] (`sim_ivf_filtered_perq`) and
    * [[resIndexServePerQ]] (`sim_ivf_pq_serve_perq`); r19 advice: the
    * two keys re-implemented the histogram join + integer width
    * formula + clamp + route flip, and only their separate oracles
    * would have caught a constant drifting. From the bounded-domain
    * label histogram, each query's wanted-label count `cnt` gives
    *   w = clamp(⌈3k·n / (cnt·perCell)⌉, 2, cells/4),
    *   route = 'ivf' iff cnt·w·perCell ≥ k·n, else the ACORN exact
    * flip. All arithmetic integer, so both keys' DuckDB twins carry
    * the SAME formula. Output: (w_label, q_id, q_label, qq, cnt, w,
    * route) — |Q| rows, the driver-value class of the cell plans.
    */
  private def widthRouteTable(e0L: DataFrame, n: Long, perCell: Long,
      cells: Long, wantedOf: Column => Column, k: Int,
      qPred: Column): DataFrame = {
    val cellsQ = math.max(1L, cells / 4L)
    val hist = e0L.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
    e0L.filter(qPred)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("qe").as("qq"))
      .withColumn("w_label", wantedOf(col("q_label")))
      .join(hist.select(col("label").as("w_label"), col("cnt")),
        Seq("w_label"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("w", expr(
        s"CASE WHEN cnt > 0 THEN least(greatest((${3L * k} * $n + cnt * $perCell - 1) div nullif(cnt * $perCell, 0), 2), $cellsQ) END"))
      .withColumn("route", expr(
        s"CASE WHEN cnt > 0 AND cnt * w * $perCell >= ${k.toLong} * $n THEN 'ivf' ELSE 'exact' END"))
  }

  /** The 3-tier mixed-selectivity label universe shared by
    * `sim_ivf_filtered_perq` and `sim_ivf_pq_serve_perq` (one
    * definition so the two serving-rule keys cannot fork): ~5 dense
    * labels (≈n/10 rows each), 20 medium (≈n/80), 499 sparse (0–2
    * rows) — vec_id-DERIVED, so the persisted PQ index needs no
    * stored metadata column (the label is computable from c_id at
    * serve time: the FAISS id-encodes-metadata pattern).
    */
  private[graft] def tierLabelCol(id: String): Column = expr(
    s"CAST(CASE WHEN $id % 2 = 0 THEN ($id div 2) % 5 " +
      s"WHEN $id % 4 = 1 THEN 5 + ($id div 4) % 20 " +
      s"ELSE 25 + ($id div 4) % 499 END AS INT)")

  private[graft] def tierWantedCol(q: Column): Column =
    (when(q < 5, (q + 1) % 5)
      .when(q < 25, lit(5) + (q - 4) % 20)
      .otherwise(lit(25) + (q - 24) % 499)).cast("int")

  private def tierLabelDuck(id: String): String =
    s"""CAST(CASE WHEN $id % 2 = 0 THEN ($id // 2) % 5
       |          WHEN $id % 4 = 1 THEN 5 + ($id // 4) % 20
       |          ELSE 25 + ($id // 4) % 499 END AS INT)""".stripMargin

  private def tierWantedDuck(l: String): String =
    s"""CAST(CASE WHEN $l < 5 THEN ($l + 1) % 5
       |          WHEN $l < 25 THEN 5 + (($l - 4) % 20)
       |          ELSE 25 + (($l - 24) % 499) END AS INT)""".stripMargin

  /** The √n geometry's per-cell budget (cells ≈ 4√n, PLANS.md). */
  private def sqrtnPerCell(n: Long): Long =
    math.max(1L, n / (4L * math.ceil(math.sqrt(n.toDouble)).toLong))

  /** The `sim_ivf_filtered_perq` chain (the key's lambda, extracted
    * so VectorOpsSpec's batch-dependence spec serves the key's REAL
    * code): the √n/4 per-cell geometry, the staged quantizer, the tier
    * label universe, and [[filteredPerQueryW]].
    */
  private[graft] def perQueryWServe(s: SparkSession, d: String,
      qPred: Option[Column] = None)
      : DataFrame = {
    val e0 = eagerCache(microVecs(s, d))
    val n = e0.count()
    val perCell = sqrtnPerCell(n)
    val centDir = stagedIvfCent(s, d, perCell)
    val e0L = e0.select(col("vec_id"),
      tierLabelCol("vec_id").as("label"), col("qe"))
    filteredPerQueryW(e0L, n, perCell,
      s.read.parquet(s"$centDir/centroids"), dirLayer(s, centDir),
      tierWantedCol, qPred = qPred)
  }

  /** sim_mmr's greedy chain over any micro-unit (vec_id, qe) frame —
    * exact top-8 shortlist per query (vec_id < `qBound`), then three
    * unrolled λ=1/2 MMR rounds, every comparison pure BIGINT
    * (min-d2-to-picked − d2-to-query). Factored so VectorOpsSpec can
    * drive a PLANTED corpus (near-duplicate shortlist entries) through
    * the operator's real code and watch diversity beat plain NN order.
    */
  private[graft] def mmrPicks(e0: DataFrame, qBound: Long = 20L): DataFrame = {
    val q = e0.filter(col("vec_id") < qBound)
      .select(col("vec_id").as("q_id"), col("qe").as("qq"))
    val wCand = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2q"), col("c_id"))
    val cand = eagerCache(
      e0.select(col("vec_id").as("c_id"), col("qe").as("ce"))
        .join(broadcast(q), col("c_id") =!= col("q_id"))
        .select(col("q_id"), col("c_id"), col("ce"),
          sqd(col("qq"), col("ce")).as("d2q"))
        .withColumn("rn", row_number().over(wCand))
        .filter(col("rn") <= 8))
    // pairwise exact distances within a query's shortlist: ≤ 8·7
    // rows per query, both sides the cached 8-row-per-query frame
    // every frame past the shortlist is query-sized (≤ 8·|Q| rows) —
    // broadcast hints keep the three greedy rounds exchange-free
    val pd = cand.select(col("q_id"), col("c_id").as("a_id"), col("ce").as("ae"))
      .join(broadcast(cand.select(col("q_id"), col("c_id").as("b_id"), col("ce").as("be"))),
        Seq("q_id"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("q_id"), col("a_id"), col("b_id"),
        sqd(col("ae"), col("be")).as("d2ab"))
    val p1 = cand.filter(col("rn") === 1)
      .select(col("q_id"), col("c_id"), col("d2q"))
    def pickNext(picked: Seq[DataFrame]): DataFrame = {
      val base = picked.zipWithIndex.foldLeft(
          cand.select(col("q_id"), col("c_id"), col("d2q"))) {
        case (acc, (p, i)) =>
          acc.join(broadcast(p.select(col("q_id"), col("c_id").as(s"p$i"))), Seq("q_id"))
            .filter(col("c_id") =!= col(s"p$i"))
      }
      val scored = picked.indices.foldLeft(base) { (acc, i) =>
        acc.join(broadcast(pd.select(col("q_id"), col("a_id").as("c_id"),
            col("b_id").as(s"b$i"), col("d2ab").as(s"d$i"))),
          Seq("q_id", "c_id"))
          .filter(col(s"b$i") === col(s"p$i"))
          .drop(s"b$i")
      }
      val minRed = picked.indices.map(i => col(s"d$i"))
        .reduceLeft((a, b) => least(a, b))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id"))
        .orderBy((minRed - col("d2q")).desc, col("c_id"))
      scored.withColumn("rnn", row_number().over(w))
        .filter(col("rnn") === 1)
        .select(col("q_id"), col("c_id"), col("d2q"))
    }
    val p2 = pickNext(Seq(p1))
    val p3 = pickNext(Seq(p1, p2))
    p1.withColumn("pick", lit(1L))
      .unionByName(p2.withColumn("pick", lit(2L)))
      .unionByName(p3.withColumn("pick", lit(3L)))
      .select(col("q_id"), col("c_id"), col("pick"), col("d2q"))
      .orderBy(col("q_id"), col("pick"))
  }

  /** The by_residual=true oracle — shared verbatim by
    * `sim_ivf_pq_residual`, `sim_ivf_pq_residual_indexed` and
    * `stream_ivfpq_index` (persisted and stream-maintained serves must
    * be hash-equal to the in-memory composition). `extraAdistPred`
    * injects an additional candidate predicate into the adist CTE —
    * `sim_ivf_pq_deletes` uses it to mirror the tombstone anti-join —
    * and `rerank = true` swaps the ADC top-3 tail for the top-32 →
    * exact-L2 → top-3 refine stage (`sim_ivf_pq_serve`).
    */
  private def ivfPqResidualOracle(extraAdistPred: String = "",
      rerank: Boolean = false): String = {
      s"""WITH ${D.ivf(D.microRel())},
         |$residualEncCtes,
         |${D.ivfProbes},
         |${residualQdCtes("probes")},
         |${D.adist(D.cellCodeJoin, extraAdistPred)}
         |${residualTail(rerank)}""".stripMargin
  }

  /** The residual-ENCODE CTE chain (corpus cell assignment → residual
    * vectors → trained sub-codebook → per-subspace codes), shared by
    * [[ivfPqResidualOracle]] and [[ivfPqServePerQOracle]] so the
    * persisted-index oracles cannot fork. Expects `e`, `cent`, `dd`
    * in scope; ends in `enc`(vec_id, cell, m, code) with `cb` bound.
    */
  private def residualEncCtes: String =
    s"""${D.ivfAsg},
       |resv AS (SELECT e.vec_id, a.cell,
       |                list_transform(range(1, 65), j -> e.qe[j] - c.ce[j]) AS res
       |         FROM e JOIN asg a ON a.vec_id = e.vec_id
       |                JOIN cent c ON c.cid = a.cell),
       |${trainedCbCtes(pqResSeedIds, "resv", "res", "cv")},
       |${D.pqEncCtes("vec_id, cell", "resv", "res", "cv")}""".stripMargin

  /** Per-probed-cell QUERY distance tables from the stored residual
    * codebook — `$probesRel` must expose (q_id, pcell); ends in
    * `qd`(q_id, pcell, m, c, d2).
    */
  private def residualQdCtes(probesRel: String): String =
    s"""qres AS (SELECT p.q_id, p.pcell,
       |                list_transform(range(1, 65), j -> e.qe[j] - c.ce[j]) AS res
       |         FROM $probesRel p JOIN e ON e.vec_id = p.q_id
       |                JOIN cent c ON c.cid = p.pcell),
       |qsub AS (${D.subspaces("q_id, pcell", "res", "sv", "qres")}),
       |qd AS (SELECT q_id, pcell, qsub.m, cb.c, ${D.sqd("sv", "cv", 8)} AS d2
       |       FROM qsub JOIN cb ON qsub.m = cb.m)""".stripMargin

  /** DuckDB twin of [[resIndexServePerQ]] — the residual-chain oracle
    * extended with the width CTEs: the label histogram, the integer
    * width/route formula (same constants: k = 3, pc = [[ivfPerCell]],
    * clamp [2, cells/4]), wMax routing through the two-level layer,
    * the rn ≤ w per-query trim, the label-matched tombstoned ADC
    * aggregate, the top-32 → exact-L2 refine tail on the ivf route,
    * and the pre-filtered tombstoned exact branch — w and route as
    * output columns so the hash pins the formula.
    */
  private def ivfPqServePerQOracle: String =
    s"""WITH ${D.ivf(D.microRel(extra = s"${tierLabelDuck("vec_id")} AS label, "))},
       |$residualEncCtes,
       |$widthRouteCtes,
       |probes AS (SELECT q.q_id, dq.cid AS pcell, q.w, q.w_label
       |           FROM qr q JOIN dq ON dq.vec_id = q.q_id AND dq.rn <= q.w
       |           WHERE q.route = 'ivf'),
       |${residualQdCtes("(SELECT q_id, pcell FROM probes)")},
       |${D.adist(s"""${D.cellCodeJoin}
       |               JOIN (SELECT DISTINCT q_id, w, w_label FROM probes) p
       |                 ON p.q_id = qd.q_id""",
           s""" AND enc.vec_id % 17 <> 3
       |            AND ${tierLabelDuck("enc.vec_id")} = p.w_label""", Some("p.w"))},
       |${D.refineCtes(Seq("q_id", "w", "c_id"), "pi", "d2")},
       |pe AS (SELECT q.q_id, q.w, c.vec_id AS c_id, ${D.sqdInt("q.qq", "c.qe")} AS d2
       |       FROM qr q JOIN e c ON c.label = q.w_label AND c.vec_id <> q.q_id
       |                         AND c.vec_id % 17 <> 3
       |       WHERE q.route = 'exact')
       |${routeUnionSql("q_id, w, c_id")}""".stripMargin

  /** Oracle twin of [[widthRouteTable]] plus the batch-max-width
    * routing of the ivf queries — `qr`(q_id, q_label, qq, w_label, cnt,
    * w, route) and the rank CTE `dq`; needs `e`(vec_id, label, qe),
    * `cent`, `nn`, `pcx` and the `cl` super layer in scope.
    */
  private def widthRouteCtes: String =
    s"""cellsq AS (SELECT greatest(1, count(*) // 4) AS cq FROM cent),
       |hist AS (SELECT label, count(*) AS cnt FROM e GROUP BY label),
       |qr AS (SELECT q_id, q_label, qq, w_label, cnt, w,
       |              CASE WHEN cnt > 0 AND cnt * w * pc >= 3 * n
       |                   THEN 'ivf' ELSE 'exact' END AS route
       |       FROM (SELECT q0.q_id, q0.q_label, q0.qq, q0.w_label,
       |                    coalesce(h.cnt, 0) AS cnt,
       |                    CASE WHEN coalesce(h.cnt, 0) > 0 THEN
       |                      least(greatest((9 * n + coalesce(h.cnt, 0) * pc - 1)
       |                        // nullif(coalesce(h.cnt, 0) * pc, 0), 2), cq)
       |                    END AS w, n, pc
       |             FROM (SELECT vec_id AS q_id, label AS q_label, qe AS qq,
       |                          ${tierWantedDuck("label")} AS w_label
       |                   FROM e WHERE vec_id < 20) q0
       |             LEFT JOIN hist h ON h.label = q0.w_label, nn, pcx, cellsq) z),
       |wmx AS (SELECT coalesce(max(w), 2) AS wmax FROM qr WHERE route = 'ivf'),
       |qf AS (SELECT q_id AS vec_id, qq AS qe FROM qr WHERE route = 'ivf'),
       |${twoLevelRankCtesW("cl", "qf", "vec_id", "qe", "dq", "(SELECT wmax FROM wmx)")}""".stripMargin

  /** Both per-query-width oracles' tail: each route's top-3 by
    * (d2, c_id) over `pi` (ivf) and `pe` (exact), emitted as
    * (route, `cols`, rnk, d2).
    */
  private def routeUnionSql(cols: String): String =
    s"""SELECT route, $cols, rnk, d2 FROM (
       |  SELECT 'ivf' AS route, $cols, d2,
       |         row_number() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS rnk FROM pi
       |  UNION ALL
       |  SELECT 'exact', $cols, d2,
       |         row_number() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS rnk FROM pe) u
       |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  private def residualTail(rerank: Boolean): String =
    if (!rerank) topKSql("adist", 3, "ad, c_id", "ad", "ad AS approx_d2")
    else s", $exactRerankSql"

  /** The LSH bucket CTEs the bucket-keyed oracles start from —
    * `b`(vec_id, embedding, nrm, bkt) over the raw table.
    */
  private def bucketCtes: String =
    s"""pl AS (SELECT ${D.planesSql} AS planes),
       |b AS (SELECT vec_id, embedding, ${D.norm("embedding")} AS nrm,
       |             ${D.bucket("embedding")} AS bkt
       |      FROM embeddings, pl)""".stripMargin

  /** Oracle twin of [[searchStreamedIndex]]: multi-probe cosine top-3
    * for queries below `qBound`.
    */
  private def multiprobeSql(qBound: Int): String =
    s"""WITH $bucketCtes,
       |pr AS (SELECT q.vec_id AS q_id, q.embedding AS qe, q.nrm AS qn,
       |              xor(q.bkt, m::BIGINT) AS probe
       |       FROM b q, (SELECT unnest([${probeMasks.mkString(", ")}]) AS m)
       |       WHERE q.vec_id < $qBound),
       |p AS (SELECT pr.q_id, c.vec_id AS c_id,
       |             ${D.dot("pr.qe", "c.embedding")} / (pr.qn * c.nrm) AS cos
       |      FROM pr JOIN b c ON pr.probe = c.bkt AND c.vec_id <> pr.q_id)
       |${cosineTopKSql(3)}""".stripMargin

  /** The fixed-8-seed centroid CTE `cent`(cid, ce) over raw floats. */
  private def fixedCentCte: String =
    s"""cent AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id IN ${ivfCentroidIds.mkString("(", ", ", ")")})""".stripMargin

  /** Oracle twin of the flat [[nearest]] assignment to `cent`:
    * `asg`(vec_id, embedding, nrm, cell).
    */
  private def flatAsgCte: String =
    s"""asg AS (
       |  SELECT vec_id, embedding, nrm, cid AS cell FROM (
       |    SELECT e.vec_id, e.embedding, ${D.norm("e.embedding")} AS nrm, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dd2("e.embedding", "c.ce")}, c.cid) AS rn
       |    FROM embeddings e, cent c) t
       |  WHERE rn = 1)""".stripMargin

  /** Oracle twin of [[lloydRefined]]: micro-unit seeds `cent`, the
    * quantized corpus `b`, the seed assignment `asg0` and the refined
    * centroids `rc`(cell, rce).
    */
  private def lloydRefinedCtes: String = {
    s"""cent AS (
       |  SELECT vec_id AS cid, ${D.micro("embedding")} AS ce FROM embeddings
       |  WHERE vec_id IN ${ivfCentroidIds.mkString("(", ", ", ")")}),
       |b AS (
       |  SELECT vec_id, embedding, ${D.norm("embedding")} AS nrm,
       |         ${D.micro("embedding")} AS qe
       |  FROM embeddings),
       |asg0 AS (
       |  SELECT vec_id, embedding, nrm, qe, cid AS cell FROM (
       |    SELECT b.vec_id, b.embedding, b.nrm, b.qe, c.cid,
       |           row_number() OVER (PARTITION BY b.vec_id
       |             ORDER BY ${dd2("b.qe", "c.ce")}, c.cid) AS rn
       |    FROM b, cent c) t
       |  WHERE rn = 1),
       |m AS (SELECT cell, i, avg(qe[i]) AS mv
       |      FROM asg0, range(1, 65) t(i) GROUP BY cell, i),
       |rc AS (SELECT cell, list(mv ORDER BY i) AS rce FROM m GROUP BY cell)""".stripMargin
  }

  /** The fixed-seed IVF tail: in-cell cosine top-3 of queries 0-19
    * over `asg`(vec_id, embedding, nrm, cell).
    */
  private def cellCosine(asg: DataFrame): DataFrame =
    cosineTopK(asg.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("nrm").as("qn"), col("cell")),
      asg.select(col("vec_id").as("c_id"), col("embedding").as("ce"),
        col("nrm").as("cn"), col("cell").as("ccell")),
      3, Some(col("cell") === col("ccell")))

  /** [[cellCosine]] at nprobe = 2 over `scored`(vec_id, embedding,
    * nrm, `cell`, `d`), 8 cells per vector ranked by (`d`, `cell`).
    */
  private def probe2Cosine(scored: DataFrame, cell: String, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col(d), col(cell))
    val ranked = eagerCache(scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2))
    val asg = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("c_id"), col("embedding").as("ce"),
        col("nrm").as("cn"), col(cell).as("cell"))
    val qp = ranked.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col(cell).as("probe"))
    cosineTopK(qp, asg, 3, Some(col("probe") === col("cell")))
  }

  /** In-cell cosine top-3 of queries 0-19 over an assignment
    * `rel`(vec_id, embedding, nrm, cell) — [[cellCosine]]'s twin.
    */
  private def cellCosineSql(rel: String): String =
    s"""p AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |         ${D.dot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
       |  FROM $rel q JOIN $rel c ON q.cell = c.cell
       |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
       |${cosineTopKSql(3)}""".stripMargin

  /** The nprobe = 2 twin of [[cellCosineSql]] over a rank CTE `d`:
    * candidates live in their rn = 1 cell (`asgCell` projects it as
    * `cell`), queries 0-19 probe their rn ≤ 2 cells (`probeCol`).
    */
  private def probe2CosineSql(asgCell: String, probeCol: String): String =
    s"""asg AS (SELECT vec_id, embedding, nrm, $asgCell FROM d WHERE rn = 1),
       |qp AS (SELECT vec_id, embedding, nrm, $probeCol AS probe FROM d
       |       WHERE rn <= 2 AND vec_id < 20),
       |p AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |         ${D.dot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
       |  FROM qp q JOIN asg c ON q.probe = c.cell
       |  WHERE c.vec_id <> q.vec_id)
       |${cosineTopKSql(3)}""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- brute-force cosine top-k (the correctness baseline) -----------
    // Queries are a small fixed set → broadcast; candidates never
    // shuffle. At 100 TB this is the per-bucket inner loop of the ANN
    // path below, not a global pattern.
    sql("sim_topk",
      s"""WITH n AS (SELECT vec_id, embedding, ${D.norm("embedding")} AS nrm
         |           FROM embeddings),
         |p AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |             ${D.dot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |      FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id <> q.vec_id)
         |${cosineTopKSql(5)}""".stripMargin) { (s, d) =>
      val n = emb(s, d)
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      val q = n.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn"))
      val c = n.select(col("vec_id").as("c_id"), col("embedding").as("ce"), col("nrm").as("cn"))
      cosineTopK(broadcast(q), c, 5)
    },

    // ---- radius (range) search ----------------------------------------
    // FAISS range_search's shape: return EVERY neighbor within a
    // radius, not a fixed k — the query dedup/near-match primitives
    // actually want (\"all docs within d of this one\"), where top-k
    // either truncates real matches or pads with noise. Under
    // distance concentration a FIXED radius degenerates (catches
    // nothing or everything — SCALE.md's embed_outliers measured
    // p99/mean ≈ 1.21 on this corpus), so the radius is per-query
    // and self-scaling: r² = 105% of the query's exact NN distance —
    // \"everything within 5% of the nearest\" — computed in pure
    // integers (micro-unit d2, ·105 div 100). One corpus scan,
    // queries broadcast, the per-query min is an aggregate over the
    // cached distance frame; result sets are output-sized. At 100 TB
    // the distance stage rides the IVF probes unchanged.
    sql("sim_range_search",
      s"""WITH ${D.microRel()},
        |p AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id, ${D.sqdInt("q.qe", "c.qe")} AS d2
        |      FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id <> q.vec_id),
        |r AS (SELECT q_id, (min(d2) * 105) // 100 AS r2 FROM p GROUP BY 1)
        |SELECT p.q_id, p.c_id, p.d2 FROM p JOIN r ON r.q_id = p.q_id
        |WHERE p.d2 <= r.r2 ORDER BY p.q_id, p.d2, p.c_id""".stripMargin) { (s, d) =>
      val e0 = microVecs(s, d)
      val q = e0.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("qe").as("qq"))
      val dist = eagerCache(e0.select(col("vec_id").as("c_id"), col("qe").as("ce"))
        .join(broadcast(q), col("c_id") =!= col("q_id"))
        .select(col("q_id"), col("c_id"), sqd(col("qq"), col("ce")).as("d2")))
      val r2 = dist.groupBy(col("q_id"))
        .agg(expr("(min(d2) * 105) div 100").as("r2"))
      dist.join(broadcast(r2), Seq("q_id"))
        .filter(col("d2") <= col("r2"))
        .select(col("q_id"), col("c_id"), col("d2"))
        .orderBy(col("q_id"), col("d2"), col("c_id"))
    },

    // ---- ANN via random-hyperplane LSH buckets (the scale path) --------
    // bucket id is a projection (no shuffle); the candidate join is
    // keyed on bucket — the global top-k cross join disappears. Recall
    // is traded for the bounded bucket size, standard SimHash-ANN.
    sql("sim_ann_lsh",
      s"""WITH $bucketCtes,
         |p AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |             ${D.dot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |      FROM b q JOIN b c ON q.bkt = c.bkt AND q.vec_id < 20 AND c.vec_id <> q.vec_id)
         |${cosineTopKSql(3)}""".stripMargin) { (s, d) =>
      val b = eagerCache(emb(s, d)
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"),
          bucket(col("embedding")).as("bkt")))
      val q = b.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("nrm").as("qn"), col("bkt"))
      val c = b.select(col("vec_id").as("c_id"), col("embedding").as("ce"),
        col("nrm").as("cn"), col("bkt").as("cbkt"))
      cosineTopK(q, c, 3, Some(col("bkt") === col("cbkt")))
    },

    // ---- multi-probe LSH: probe every bucket within hamming ----------
    // distance 2 of the query's bucket (37 probes). Candidate
    // generation stays bucket-keyed (the probe list is a bounded
    // map-side explode — no all-pairs), but recall multiplies: a true
    // neighbor that disagrees with the query on one or two hyperplanes
    // is now found. Each candidate lives in exactly ONE bucket and
    // probes are distinct, so no (q, c) pair duplicates — no dedup
    // pass needed. The standard multi-probe trade: bounded extra
    // candidates per query for a large recall multiple, still
    // O(probes × bucket) not O(corpus) per query.
    sql("sim_ann_multiprobe",
      multiprobeSql(20)) { (s, d) =>
      searchStreamedIndex(emb(s, d)
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"),
          bucket(col("embedding")).as("bkt")), qBound = 20)
    },

    // ---- streaming ANN ingest: embeddings stream into the LSH index ----
    // The shape that makes the ANN path continuously maintainable: new
    // vectors arrive as a stream, the bucket id is computed as a
    // map-side projection per micro-batch (same codegen'd bucket() as
    // the batch path — index and query can never disagree), and the
    // index lands as parquet PARTITIONED BY bucket via the checkpointed
    // file sink (exactly-once across restarts, like stream_sink_parquet).
    // A point lookup with literal probe ids then prunes to 37 bucket
    // directories out of 256 — the index layout IS the search
    // structure. The search below is the same multi-probe top-3 as
    // sim_ann_multiprobe, over the STREAMED index, for queries 0-9;
    // the oracle computes it from the raw table, so the key proves the
    // stream wrote a complete, correct index.
    sql("stream_embed_index",
      multiprobeSql(10)) { (s, d) =>
      searchStreamedIndex(buildStreamedIndex(s, d))
    },

    // ---- ANN via IVF (inverted-file) cells -----------------------------
    // Coarse quantizer: 8 fixed centroids (deterministic vec_id picks —
    // a k-means step would refine them, the search shape is identical).
    // Every vector is assigned to its nearest centroid (argmin of
    // squared L2, tie-broken by centroid id); search only touches the
    // query's cell. At scale the centroid table is broadcast, the
    // assignment is a map-side projection, and the candidate join is
    // keyed on cell — the standard IVF trade of recall for bounded
    // candidate lists, complementing the LSH variant above.
    sql("sim_ivf", {
      s"""WITH $fixedCentCte,
         |$flatAsgCte,
         |${cellCosineSql("asg")}""".stripMargin
    }) { (s, d) =>
      val e = emb(s, d)
      cellCosine(flatAssign(e, fixedCent(e)))
    },

    // ---- IVF refined by one Lloyd iteration ----------------------------
    // sim_ivf's coarse quantizer uses 8 fixed seed vectors; one k-means
    // step (assign → per-cell mean → re-assign) tightens the cells and
    // lifts recall (measured vs sim_ivf in SCALE.md) at the cost of one
    // extra pass — the standard IVF training trade. Determinism across
    // engines is BY CONSTRUCTION, not rounding: vectors are quantized
    // to integer micro-units (floor(x·1e6 + 0.5), identical IEEE ops on
    // identical floats), so seed-assignment distances are exact integer
    // arithmetic in doubles (<2^53), the per-cell elementwise SUMS are
    // exact regardless of aggregation order (integer-valued doubles),
    // and mean = exact-sum / exact-count is one identical IEEE divide —
    // the argmin can never flip on summation order, which a plain
    // double mean (VectorMean over raw floats) could not guarantee.
    // Shape at scale: centroids broadcast both times (8 rows), each
    // assignment is a map-side 8× candidate expand collapsed by a
    // partially-aggregated min(struct(d2, cid)) — no window sort, no
    // all-pairs; the search touches only the query's refined cell.
    sql("sim_ivf_refined", {
      s"""WITH $lloydRefinedCtes,
         |asg1 AS (
         |  SELECT vec_id, embedding, nrm, cell FROM (
         |    SELECT a.vec_id, a.embedding, a.nrm, r.cell,
         |           row_number() OVER (PARTITION BY a.vec_id
         |             ORDER BY ${dd2("a.qe", "r.rce")}, r.cell) AS rn
         |    FROM asg0 a, rc r) t
         |  WHERE rn = 1),
         |${cellCosineSql("asg1")}""".stripMargin
    }) { (s, d) =>
      val (asg0, refined) = lloydRefined(s, d)
      // E-step vs refined centroids, then cell-local cosine top-3
      cellCosine(eagerCache(nearest(asg0.join(broadcast(refined)), Seq(col("vec_id")),
          d2(col("qe"), col("rce")), col("rcell").as("cid"), "embedding", "nrm")
        .select(col("vec_id"), col("embedding"), col("nrm"),
          col("best.cid").as("cell"))))
    },

    // ---- IVF with nprobe=2 ---------------------------------------------
    // The IVF recall dial the LSH side already has (multi-probe): each
    // query searches its TWO nearest cells instead of one. Candidates
    // still come from bounded cell-keyed joins (a candidate lives in
    // exactly one cell and the two probes are distinct, so no (q, c)
    // pair duplicates — no dedup pass); cost is ≤ 2× sim_ivf's
    // candidate list for a measured recall lift (SCALE.md). Same seed
    // centroids and exact-arithmetic assignment as sim_ivf.
    sql("sim_ivf_probe2", {
      s"""WITH $fixedCentCte,
         |d AS (
         |  SELECT e.vec_id, e.embedding, ${D.norm("e.embedding")} AS nrm, c.cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${dd2("e.embedding", "c.ce")}, c.cid) AS rn
         |  FROM embeddings e, cent c),
         |${probe2CosineSql("cid AS cell", "cid")}""".stripMargin
    }) { (s, d) =>
      val e = emb(s, d)
      probe2Cosine(e.join(broadcast(fixedCent(e)))
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"),
          col("cid"), d2(col("embedding"), col("ce")).as("d2")), "cid", "d2")
    },

    // ---- IVF, refined centroids × nprobe=2 (the composed production dial)
    // sim_ivf_refined (one Lloyd pass) and sim_ivf_probe2 (search the 2
    // nearest cells) are the two independent recall dials; production
    // IVF turns both. Train: the refined centroids come from the exact
    // micro-unit Lloyd step (sim_ivf_refined's arithmetic — summation-
    // order-proof by construction). Search: corpus vectors live in
    // their 1 nearest REFINED cell, each query probes its 2 nearest
    // REFINED cells — candidates stay cell-keyed and duplicate-free (a
    // candidate is in exactly one cell). Cost ≤ 2× the refined
    // candidate list; recall measured against sim_topk in SCALE.md
    // alongside each dial alone. Scale shape unchanged: centroids
    // broadcast (8 rows) in both passes, rank-2 assignment is a window
    // over 8 candidate rows per vector (bounded, never corpus-wide).
    sql("sim_ivf_refined_probe2", {
      s"""WITH $lloydRefinedCtes,
         |d AS (
         |  SELECT a.vec_id, a.embedding, a.nrm, r.cell,
         |         row_number() OVER (PARTITION BY a.vec_id
         |           ORDER BY ${dd2("a.qe", "r.rce")}, r.cell) AS rn
         |  FROM asg0 a, rc r),
         |${probe2CosineSql("cell", "cell")}""".stripMargin
    }) { (s, d) =>
      val (asg0, refined) = lloydRefined(s, d)
      // rank-2 re-assignment vs the refined centroids
      probe2Cosine(asg0.join(broadcast(refined))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("rcell"),
          d2(col("qe"), col("rce")).as("rd2")), "rcell", "rd2")
    },

    // ---- IVF serve at the √n PRODUCTION geometry --------------------
    // Every other IVF key trains at the bench geometry (n/125 cells);
    // the geometry rule (PLANS.md, closed by the geom probe) says a
    // production deployment past ~10⁷ vectors picks cells ∈ [4√n,
    // 16√n] and buys recall with nprobe. Until r17 that dial was
    // probe-priced only — this key ORACLES it end-to-end: perCell =
    // max(1, n ÷ 4⌈√n⌉) (pure integer arithmetic both engines, ⌈√n⌉
    // from the correctly-rounded IEEE sqrt), the SAME scaledLloydCent
    // two-level chain through the SAME parameterized CTE twin
    // (scaledLloydCentCtesAt — one formula, no fork), nprobe = 2
    // serve, exact integer top-3. At sf0.1 (2,000 vectors) that is
    // 182 cells / 14 supers — the router working at a super layer
    // 3.5× the n/125 keys' (16 cells / 4 supers), hash-verified
    // instead of recall-probed; SCALE.md's `sqrtn` leg shows the
    // SAME integer formula reproducing the geom table's 4√n row at
    // the 64× octave (1,439 cells, 178 cand/query, 0.043 recall).
    sql("sim_ivf_sqrtn", {
      s"""WITH ${D.ivf(D.microRel(), D.sqrtnPc)},
         |${D.cellCand()},
         |probes AS (SELECT e.vec_id AS q_id, e.qe AS qq, dd.cid AS pcell
         |           FROM e JOIN dd ON dd.vec_id = e.vec_id AND dd.rn <= 2
         |           WHERE e.vec_id < 20),
         |p AS (SELECT q.q_id, c.c_id, ${D.sqdInt("q.qq", "c.ce2")} AS d2
         |      FROM probes q JOIN cand c
         |        ON c.cell = q.pcell AND c.c_id <> q.q_id)
         |${topKSql("p", 3, "d2, c_id", "d2", "d2")}""".stripMargin
    }) { (s, d) =>
      val e0 = eagerCache(microVecs(s, d))
      val perCell = sqrtnPerCell(e0.count())
      // the √n-geometry quantizer is STAGED per (corpus, perCell) —
      // r18: this key previously retrained its Lloyd centroids every
      // call (the anchor's heaviest key); now training runs once
      // through stagedIvfCent and each call is serve-only, the same
      // build-once discipline as the n/125 chains
      val centDir = stagedIvfCent(s, d, perCell)
      val ranked = eagerCache(coarseRanked(e0,
        s.read.parquet(s"$centDir/centroids"),
        layer = Some(dirLayer(s, centDir))))
      val cand = cellCand(e0, ranked)
      val probes = e0.filter(col("vec_id") < 20)
        .join(ranked.filter(col("vec_id") < 20)
          .select(col("vec_id"), col("cid").as("pcell")), Seq("vec_id"))
        .select(col("vec_id").as("q_id"), col("qe").as("qq"), col("pcell"))
      topK(cand.join(broadcast(probes),
          col("cell") === col("pcell") && col("c_id") =!= col("q_id"))
        .select(col("q_id"), col("c_id"), sqd(col("qq"), col("ce2")).as("d2")),
        col("q_id"), 3, col("d2"), col("c_id"))
        .select(col("q_id"), col("c_id"), col("rnk"), col("d2"))
        .orderBy(col("q_id"), col("rnk"))
    },

    // ---- embedding near-dup dedup (bucketed, never all-pairs) ----------
    // Planted exact copies (vec_id+10000) land in the same LSH bucket
    // by construction; the bucket-keyed self-join + cosine ≥ 0.999
    // finds exactly those pairs.
    sql("dedup_embedding",
      s"""WITH pl AS (SELECT ${D.planesSql} AS planes),
         |corpus AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL SELECT vec_id + 10000, embedding FROM embeddings),
         |b AS (SELECT vec_id, embedding, ${D.norm("embedding")} AS nrm,
         |             ${D.bucket("embedding")} AS bkt
         |      FROM corpus, pl)
         |SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
         |       floor(${D.dot("a.embedding", "c.embedding")} / (a.nrm * c.nrm) * 1000000 + 0.5) / 1000000 AS cosine
         |FROM b a JOIN b c ON a.bkt = c.bkt AND a.vec_id < c.vec_id
         |WHERE ${D.dot("a.embedding", "c.embedding")} / (a.nrm * c.nrm) >= 0.999
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
      val e = emb(s, d)
      val corpus = e.select(col("vec_id"), col("embedding"))
        .unionByName(e.select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      val b = corpus.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"), bucket(col("embedding")).as("bkt"))
        .cache() // both sides of the bucket self-join read this
      b.count() // eager cache fill
      val a2 = b.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("nrm").as("nb"), col("bkt").as("bkt2"))
      val cos = cosine(col("embedding"), col("eb"), col("nrm"), col("nb"))
      b.join(a2, col("bkt") === col("bkt2") && col("vec_id") < col("vec_b"))
        .filter(cos >= 0.999)
        .select(col("vec_id").as("vec_a"), col("vec_b"), pr6(cos).as("cosine"))
        .orderBy(col("vec_a"), col("vec_b"))
    },

    // ---- semantic dedup (SemDeDup selection) ----------------------------
    // Abbas et al. 2023 ("SemDeDup"): cluster the embedding space,
    // then WITHIN each cluster drop every vector that has a
    // near-identical neighbor closer to the cluster centroid — the
    // embedding-space answer to "which of these near-copies do we
    // keep?". Differs from dedup_embedding (which only LISTS dup
    // pairs): this key emits the SELECTION — per doc its cell, its
    // near-dup count, and the keep/drop verdict under the
    // closest-to-centroid representative rule (tie → lower vec_id).
    // Planted exact copies (+10000) tie their original on centroid
    // distance and lose the id tie-break: all 500 drop, all originals
    // survive — a provable recovery.
    //
    // Scale shape: the centroids are a broadcast constant (k rows);
    // assignment is a map-side expand collapsed by a partial
    // min(struct); the only self-join is CELL-keyed — SemDeDup's whole
    // point is that k grows with the corpus so cells stay bounded and
    // the pairwise work never approaches all-pairs. Centroid distance
    // is exact integer arithmetic on micro-unit-quantized components
    // (the sim_ivf_refined pattern), so the keep/drop frontier cannot
    // drift between engines; the cosine itself is the same sequential
    // double fold as every other vector key.
    sql("dedup_semantic", {
      val cids = ivfCentroidIds.mkString("(", ", ", ")")
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings
         |                UNION ALL SELECT vec_id + 10000, embedding FROM embeddings),
         |${D.microRel(extra = s"embedding, ${D.norm("embedding")} AS nrm, ", from = "corpus")},
         |cent AS (SELECT vec_id AS cid, qe AS ce FROM e WHERE vec_id IN $cids),
         |asg AS (SELECT vec_id, embedding, nrm, cell, d2c FROM
         |          (SELECT e.vec_id, e.embedding, e.nrm, c.cid AS cell,
         |                  ${D.sqd("qe", "ce")} AS d2c,
         |                  row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |                    ${D.sqd("qe", "ce")}, c.cid) AS rn
         |           FROM e, cent c) t
         |        WHERE rn = 1),
         |pairs AS (SELECT a.vec_id, count(*)::BIGINT AS dup_cnt,
         |                 max(CASE WHEN b.d2c < a.d2c
         |                            OR (b.d2c = a.d2c AND b.vec_id < a.vec_id)
         |                     THEN 1 ELSE 0 END) AS dominated
         |          FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |          WHERE ${D.dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.999
         |          GROUP BY a.vec_id)
         |SELECT a.vec_id, a.cell, coalesce(p.dup_cnt, 0) AS dup_cnt,
         |       coalesce(p.dominated, 0) = 0 AS kept
         |FROM asg a LEFT JOIN pairs p ON a.vec_id = p.vec_id
         |ORDER BY a.vec_id""".stripMargin
    }) { (s, d) =>
      val e = emb(s, d)
      val corpus = e.select(col("vec_id"), col("embedding"))
        .unionByName(e.select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      val base = corpus.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"), microCol(col("embedding")).as("qe"))
      val cent = base.filter(col("vec_id").isin(ivfCentroidIds: _*))
        .select(col("vec_id").as("cid"), col("qe").as("ce"))
      val asg = eagerCache(nearest(base.join(broadcast(cent)), Seq(col("vec_id")),
          sqDist(col("qe"), col("ce")), col("cid"), "embedding", "nrm")
        .select(col("vec_id"), col("embedding"), col("nrm"),
          col("best.cid").as("cell"), col("best.d2").as("d2c")))
      val b = asg.select(col("vec_id").as("vid2"), col("embedding").as("e2"),
        col("nrm").as("n2"), col("cell").as("cell2"), col("d2c").as("d2c2"))
      val cos = cosine(col("embedding"), col("e2"), col("nrm"), col("n2"))
      val pairs = asg.join(b, col("cell") === col("cell2") && col("vec_id") =!= col("vid2"))
        .filter(cos >= 0.999)
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("dup_cnt"),
          max(when(col("d2c2") < col("d2c")
            || (col("d2c2") === col("d2c") && col("vid2") < col("vec_id")), 1)
            .otherwise(0)).as("dominated"))
      asg.join(pairs, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("dup_cnt"), lit(0L)).as("dup_cnt"),
          (coalesce(col("dominated"), lit(0)) === 0).as("kept"))
        .orderBy(col("vec_id"))
    },

    // ---- prototype-distance outlier pruning ----------------------------
    // The "prototypes" half of D4 (Tirumala et al. 2023, "D4:
    // Improving LLM Pretraining via Document De-Duplication and
    // Diversification"): after SemDeDup removes within-cluster
    // duplicates, prune the vectors FARTHEST from their cluster
    // centroid — distance-to-prototype is the diversification signal.
    // Here a vector is an outlier when its squared centroid distance
    // exceeds 1.2× its cell's mean, as the exact rational
    // 5 · d2c · n_cell > 6 · Σ d2c — pure integer arithmetic over the
    // micro-unit-quantized components (the dedup_semantic assignment,
    // shared fold), cross-multiplied in decimal(38,0)/HUGEINT so
    // web-scale cells cannot overflow the BIGINT product. The margin
    // is deliberately tight: in 64 dims centroid distances CONCENTRATE
    // (measured ratio-to-cell-mean p50 ≈ 1.01, p99 ≈ 1.21, max ≈ 1.35
    // at sf0.1), so a naive 2× mean never fires — 1.2× prunes the
    // farthest ~1%, the D4-style diversification margin. Scale shape: broadcast centroids, map-side
    // partial min(struct) assignment, one cell-keyed stats aggregate
    // broadcast back — no self-join at all, strictly lighter than
    // SemDeDup itself.
    sql("embed_outliers", {
      val cids = ivfCentroidIds.mkString("(", ", ", ")")
      s"""WITH ${D.microRel()},
         |cent AS (SELECT vec_id AS cid, qe AS ce FROM e WHERE vec_id IN $cids),
         |asg AS (SELECT vec_id, cell, CAST(d2c AS BIGINT) AS d2c FROM
         |          (SELECT e.vec_id, c.cid AS cell,
         |                  ${D.sqd("qe", "ce")} AS d2c,
         |                  row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |                    ${D.sqd("qe", "ce")}, c.cid) AS rn
         |           FROM e, cent c) t
         |        WHERE rn = 1),
         |st AS (SELECT cell, count(*) AS n_cell, sum(d2c) AS s_d2c
         |       FROM asg GROUP BY cell)
         |SELECT a.vec_id, a.cell, a.d2c, CAST(st.n_cell AS BIGINT) AS n_cell,
         |       5 * CAST(a.d2c AS HUGEINT) * st.n_cell > 6 * st.s_d2c AS is_outlier
         |FROM asg a JOIN st USING (cell)
         |ORDER BY a.vec_id""".stripMargin
    }) { (s, d) =>
      val base = emb(s, d).select(col("vec_id"), microCol(col("embedding")).as("qe"))
      val cent = base.filter(col("vec_id").isin(ivfCentroidIds: _*))
        .select(col("vec_id").as("cid"), col("qe").as("ce"))
      val asg = eagerCache(nearest(base.join(broadcast(cent)), Seq(col("vec_id")),
          sqDist(col("qe"), col("ce")), col("cid"))
        .select(col("vec_id"), col("best.cid").as("cell"),
          col("best.d2").cast("bigint").as("d2c")))
      val st = asg.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_cell"),
          sum(col("d2c").cast("decimal(38,0)")).as("s_d2c"))
      asg.join(broadcast(st), Seq("cell"))
        .select(col("vec_id"), col("cell"), col("d2c"), col("n_cell"),
          (col("d2c").cast("decimal(38,0)") * col("n_cell") * 5 > col("s_d2c") * 6)
            .as("is_outlier"))
        .orderBy(col("vec_id"))
    },

    // ---- product quantization + asymmetric-distance search -------------
    // Jégou et al. 2011 ("Product Quantization for Nearest Neighbor
    // Search"): split the 64-d space into 8 subspaces of 8 dims, build
    // a tiny per-subspace codebook (4 deterministic seed centroids),
    // store each vector as 8 code indices, and answer queries by ADC —
    // the query precomputes its distance to every codebook entry (a
    // 8×4 table) and a candidate's approximate distance is just 8
    // table lookups summed. The memory story IS the operator: a 100 TB
    // embedding store serves from codes (8 small ints/vector, ~32×
    // smaller than the floats) while exact vectors stay on cold
    // storage; the codebook and every query table are broadcast-sized
    // constants, and the scan side never touches a float.
    //
    // All arithmetic is exact: components quantize to micro-units
    // (identical floor(x·1e6+0.5) doubles both engines), so every
    // subspace distance is an integer and the ADC sum (≤ ~2.6e14)
    // hash-matches exactly — no rounding frontier anywhere.
    sql("sim_pq_adc",
      s"""WITH $pqAdcCtes
         |${topKSql("adist", 3, "ad, c_id", "ad", "ad AS approx_d2")}""".stripMargin) { (s, d) =>
      ivfPqTop3(pqAdcChain(s, d)._2)
    },

    // ---- PQ search with exact re-ranking -------------------------------
    // Production PQ (Jégou et al. 2011 §5.3) never serves the ADC
    // order directly: the code scan produces a SHORTLIST (top-32 by
    // approximate distance) and only those candidates fetch their
    // exact vectors for an exact-distance re-rank — the two-tier
    // memory story (codes hot, floats cold) with the accuracy of the
    // exact metric on the short list. Here: ADC top-32 per query →
    // join the 32·|Q| shortlist (broadcast — it is query-sized, never
    // corpus-sized) back to the exact micro-unit vectors → exact
    // integer squared L2 → top-3. All arithmetic stays integer-exact
    // (micro-unit components, sums < 2^53), so the hash matches with
    // no rounding frontier; recall vs the ADC-only top-3 is measured
    // in SCALE.md.
    sql("sim_pq_rerank",
      s"""WITH $pqAdcCtes,
         |$exactRerankSql""".stripMargin) { (s, d) =>
      val adist = pqAdcChain(s, d)._2
      exactRerank(s, d, adist)
    },

    // ---- IVF × PQ: the composed production index (FAISS IVFPQ shape) ---
    // The two measured index families compose exactly the way
    // production ANN serves 100 TB (Jégou et al. 2011 §5.1; FAISS
    // IVFPQ with by_residual=false): a coarse quantizer routes every
    // vector to an inverted list (cell), vectors are stored only as
    // 8×2-bit PQ codes, and a query ADC-scans JUST its nprobe=2
    // nearest cells' codes — never the whole code table, never a
    // float. The quantizer is the corpus-scaled Lloyd-refined one
    // (scaledLloydCent: cells = max(8, ⌈n/125⌉)), so per-query
    // scanned codes are ~nprobe·125 FLAT in n — the fixed-8-seed
    // dial keys scan nprobe·n/8. Build: cell assignment is the
    // cells-row broadcast expand + bounded window; codes join their
    // cell once (index-build
    // co-partitioning — at scale the inverted lists are WRITTEN
    // cell-partitioned, so the scan reads only probed partitions).
    // Search: the query side (distance tables × 2 probe cells) stays
    // broadcast-sized, the cell filter lands BEFORE the ADC aggregate,
    // and all arithmetic is exact micro-unit integers end-to-end (the
    // same no-rounding-frontier guarantee as both parents). Recall vs
    // sim_topk is measured in SCALE.md next to each family alone.
    sql("sim_ivf_pq", ivfPqOracle) { (s, d) =>
      ivfPqTop3(ivfPqFlatAdist(s, d))
    },

    // ---- IVF × PQ served from the PERSISTED index ----------------------
    // The stored-artifact form of sim_ivf_pq — what FAISS actually
    // writes to disk and what a 100 TB deployment serves from: the
    // inverted lists land on parquet PARTITIONED BY cell
    // ([[stagedIvfPqIndex]]), the coarse centroids and sub-codebooks
    // sit alongside, and a query plans its nprobe cells FIRST (a
    // centroid scan that is metadata-sized — cells rows), then reads ONLY
    // those cells' directories: the scan's PartitionFilters carries
    // the literal cell list, so files-read scales with nprobe/cells,
    // not corpus size (VectorOpsSpec asserts the filter; SCALE.md
    // measures the file counts). Arithmetic is identical to
    // sim_ivf_pq end-to-end — the oracle is shared and the hash must
    // match.
    sql("sim_ivf_pq_indexed", ivfPqOracle) { (s, d) =>
      ivfPqIndexedServe(s, d)
    },

    // ---- IVF × PQ with RESIDUAL encoding (FAISS by_residual=true) ------
    // The FAISS default the flat-encoded key deliberately skips:
    // each vector is PQ-encoded as its residual from its coarse cell
    // centroid (x − c(cell)), and a query builds PER-CELL distance
    // tables from ITS residual against each probed cell (q − c(cell)).
    // Scan cost is IDENTICAL to sim_ivf_pq by construction (same
    // centroids, same nprobe → same candidate set; VectorOpsSpec
    // asserts the counts equal). The recall effect is
    // STRUCTURE-DEPENDENT and measured honestly in SCALE.md: on the
    // synthetic fixture — 0.5% between-label variance, i.e. no coarse
    // structure for the centroids to remove — residual ≈ flat within
    // noise (residuals ARE the vectors there); on SCALE.md's planted
    // clustered corpus the residual codes win decisively, because the
    // codebook spends its 2 bits/subspace on the within-cell noise
    // instead of re-describing cluster centers. All arithmetic stays
    // exact: micro-unit integers subtract to integer residuals, the
    // query side grows to (tables × probes) per-cell rows — still
    // broadcast-sized (20·2·8·4 = 1,280 rows) — and the codebook
    // seeds are non-centroid vectors (a centroid's residual is the
    // zero vector, a degenerate codebook).
    sql("sim_ivf_pq_residual", ivfPqResidualOracle()) { (s, d) =>
      ivfPqTop3(ivfPqResidualAdist(s, d))
    },

    // ---- residual IVF x PQ served from the PERSISTED index -------------
    // The by_residual=true stored-artifact serve: residual codes
    // partition by cell exactly like flat codes (FAISS stores them
    // identically), so the sim_ivf_pq_indexed pruning story carries
    // over unchanged -- the nprobe cell plan becomes literal
    // PartitionFilters on the lists scan, the stored residual
    // codebook builds the per-cell query tables, and the result is
    // hash-equal to the in-memory sim_ivf_pq_residual (same oracle).
    sql("sim_ivf_pq_residual_indexed", ivfPqResidualOracle()) { (s, d) =>
      ivfPqResIndexedServe(s, d)
    },

    // ---- streaming IVF x PQ index maintenance ---------------------------
    // The FAISS add() path as a Structured Streaming job: quantizers
    // trained once by the batch build and FROZEN (the production
    // reality -- retraining re-keys every stored code), arriving
    // vectors cell-assigned and residual-PQ-encoded map-side against
    // the collected quantizer literals, appended to their cell=N/
    // list partition by the checkpointed file sink. Each micro-batch
    // is Scan -> Project -> posexplode -> FileSink: zero exchanges,
    // no state store, exactly-once across restarts. The serve is the
    // SAME resIndexServe as the batch index (partition-pruned cell
    // reads), and the result is hash-equal to sim_ivf_pq_residual --
    // in-memory, batch-persisted and stream-maintained are one
    // contract with three lineages.
    sql("stream_ivfpq_index", ivfPqResidualOracle()) { (s, d) =>
      val lists = streamIvfPqIngest(s, d)
      resIndexServe(s, d, lists, stagedIvfPqResIndex(s, d))
    },

    // ---- deletion from the served index (tombstones) --------------------
    // The data-governance dial a 100 TB training pipeline cannot skip:
    // when a document's consent is revoked, every derived artifact —
    // including the ANN index — must stop surfacing it. Deletes land
    // as a TOMBSTONE set (here: vec_id % 17 = 3, ~6% — including
    // vec_id 3, which is also a coarse centroid: the quantizer
    // survives its own training vector's deletion, data and quantizer
    // metadata being separate lifecycles, exactly as in FAISS
    // remove_ids). The anti-join sits BELOW the ADC aggregate, so a
    // deleted vector can never reach a shortlist — post-filtering the
    // top-k would silently under-return instead. Serving cost is
    // O(|deletes|) extra (broadcast anti-join); the physical reclaim
    // happens at compaction (compactStreamedLists with the tombstone
    // set, content-stamped so a grown delete set rebuilds and a
    // repeat no-ops) — spec-asserted equal to this logical serve.
    sql("sim_ivf_pq_deletes", ivfPqResidualOracle(
        extraAdistPred = " AND enc.vec_id % 17 <> 3")) { (s, d) =>
      val idx = stagedIvfPqResIndex(s, d)
      resIndexServe(s, d, s"$idx/lists", idx, tombstones = Some(tombstones(microVecs(s, d))))
    },

    // ---- the one-call production serve (capstone composition) ----------
    // Every dial this round built, composed the way a serving
    // deployment actually calls them — ONE query: persisted residual
    // index → nprobe cell plan (literal PartitionFilters) → tombstone
    // anti-join (deletes invisible before any distance accumulates) →
    // ADC scan of the probed lists → top-32 shortlist → exact
    // integer-L2 re-rank → top-3. Each tier's cost is bounded by the
    // previous one (probed cells cap the code scan, 32·|Q| caps the
    // float fetch), every stage is the SAME factored code path its
    // standalone key pins (resIndexAdist + exactRerank), and the
    // oracle is the residual chain with the delete predicate and the
    // refine tail — so the composition cannot drift from the parts.
    sql("sim_ivf_pq_serve", ivfPqResidualOracle(
        extraAdistPred = " AND enc.vec_id % 17 <> 3", rerank = true)) { (s, d) =>
      val idx = stagedIvfPqResIndex(s, d)
      val adist = resIndexAdist(s, d, s"$idx/lists", idx,
        tombstones = Some(tombstones(microVecs(s, d))))
      exactRerank(s, d, adist)
    },

    // ---- the production serve at PER-QUERY widths (r19) ----------------
    // The capstone's missing dial (VERDICT r18 #2): sim_ivf_pq_serve
    // serves every query at nprobe = 2; this serves a
    // mixed-selectivity label-filtered batch from the SAME persisted
    // residual index with each query's width computed from the
    // serving rule (sim_ivf_filtered_perq's formula), the union cell
    // plan as literal PartitionFilters, label-matched ADC, and the
    // ACORN exact flip for sparse labels — WITH the capstone's other
    // tiers riding along: the %17 tombstone set invisible below both
    // routes' distances, and the ivf route's ADC top-32 shortlist
    // exact-re-ranked through the bucket-staged float fetch, so d2 is
    // exact integer L2 on both routes. w/route are output columns —
    // the oracle hash pins the whole rule end-to-end.
    sql("sim_ivf_pq_serve_perq", ivfPqServePerQOracle) { (s, d) =>
      resIndexServePerQ(s, d)
    },

    // ---- IVF × PQ with exact re-ranking (the full FAISS serve path) ----
    // The complete production serve stack in one key (Jégou 2011
    // §5.1 + §5.3; FAISS IVFPQ + refine): coarse cells route the
    // query to its nprobe=2 inverted lists, the PQ-code ADC scan of
    // JUST those lists produces a top-32 shortlist, and only the
    // shortlist fetches exact vectors for an exact integer-L2 top-3.
    // Each tier pays its own bounded cost — the cell filter caps the
    // code scan at the probed lists, the 32·|Q| shortlist caps the
    // float fetch — so at 100 TB the scan reads nprobe/cells of the
    // codes and 32 vectors per query, never the corpus. Composes the
    // two measured dials (sim_ivf_pq's 26%-scan, sim_pq_rerank's 3–4×
    // recall lift); SCALE.md measures the composition against each
    // tier alone.
    sql("sim_ivf_pq_rerank", ivfPqRerankOracle) { (s, d) =>
      val adist = ivfPqFlatParts(s, d)._2
      exactRerank(s, d, adist)
    },

    // ---- MMR-diversified retrieval (Carbonell & Goldstein 1998) --------
    // The serving-side diversity dial a training-data picker needs:
    // nearest-neighbor top-k returns near-duplicates of one mode;
    // maximal marginal relevance greedily picks candidates balancing
    // query relevance against redundancy with what's already picked.
    // λ = 1/2 makes the greedy argmax INTEGER-exact: maximizing
    // λ·sim − (1−λ)·max-sim-to-picked over sim = −d2 (exact micro-unit
    // squared L2) reduces to maximizing min_picked d2(c, picked) −
    // d2(q, c) — pure BIGINT arithmetic, no float tie frontier, so
    // both engines pick identical sets. Three picks unroll into three
    // bounded rounds (the BPE/PageRank unrolled-iteration pattern).
    // Scale shape: the candidate stage is the sim_topk top-8 window
    // (broadcast queries, WindowGroupLimit caps the corpus stream
    // map-side); every MMR round then works on ≤ 8·|Q| rows —
    // query-sized, never corpus-sized. At 100 TB the shortlist would
    // come from the IVFPQ serve instead (same downstream shape).
    sql("sim_mmr",
      s"""WITH ${D.microRel()},
        |cand AS (SELECT * FROM (
        |    SELECT q.vec_id AS q_id, c.vec_id AS c_id, c.qe AS ce,
        |           ${D.sqdInt("q.qe", "c.qe")} AS d2q,
        |           row_number() OVER (PARTITION BY q.vec_id
        |             ORDER BY ${D.sqd("q.qe", "c.qe")}, c.vec_id) AS rn
        |    FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id <> q.vec_id) t
        |  WHERE rn <= 8),
        |pd AS (SELECT a.q_id, a.c_id AS a_id, b.c_id AS b_id,
        |              ${D.sqdInt("a.ce", "b.ce")} AS d2ab
        |       FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.c_id <> b.c_id),
        |p1 AS (SELECT q_id, c_id, d2q FROM cand WHERE rn = 1),
        |s2 AS (SELECT c.q_id, c.c_id, c.d2q, pd.d2ab - c.d2q AS score,
        |              row_number() OVER (PARTITION BY c.q_id
        |                ORDER BY pd.d2ab - c.d2q DESC, c.c_id) AS rn2
        |       FROM cand c JOIN p1 ON p1.q_id = c.q_id AND p1.c_id <> c.c_id
        |                   JOIN pd ON pd.q_id = c.q_id AND pd.a_id = c.c_id
        |                          AND pd.b_id = p1.c_id),
        |p2 AS (SELECT q_id, c_id, d2q FROM s2 WHERE rn2 = 1),
        |s3 AS (SELECT c.q_id, c.c_id, c.d2q,
        |              least(d1.d2ab, d2.d2ab) - c.d2q AS score,
        |              row_number() OVER (PARTITION BY c.q_id
        |                ORDER BY least(d1.d2ab, d2.d2ab) - c.d2q DESC, c.c_id) AS rn3
        |       FROM cand c JOIN p1 ON p1.q_id = c.q_id AND p1.c_id <> c.c_id
        |                   JOIN p2 ON p2.q_id = c.q_id AND p2.c_id <> c.c_id
        |                   JOIN pd d1 ON d1.q_id = c.q_id AND d1.a_id = c.c_id
        |                             AND d1.b_id = p1.c_id
        |                   JOIN pd d2 ON d2.q_id = c.q_id AND d2.a_id = c.c_id
        |                             AND d2.b_id = p2.c_id),
        |p3 AS (SELECT q_id, c_id, d2q FROM s3 WHERE rn3 = 1)
        |SELECT q_id, c_id, pick, d2q FROM (
        |  SELECT q_id, c_id, 1::BIGINT AS pick, d2q FROM p1
        |  UNION ALL SELECT q_id, c_id, 2, d2q FROM p2
        |  UNION ALL SELECT q_id, c_id, 3, d2q FROM p3)
        |ORDER BY q_id, pick""".stripMargin) { (s, d) =>
      mmrPicks(microVecs(s, d))
    },
    // ---- hard-negative mining (contrastive training data) --------------
    // For each anchor, the nearest candidates whose LABEL differs —
    // the textbook hard-negative miner for contrastive/embedding
    // training (nearest wrong-class examples carry the gradient).
    // Exact micro-unit d2, label inequality inside the join condition
    // (pushed below the window), anchors broadcast; the per-anchor
    // top-3 is a WindowGroupLimit over the single corpus pass — the
    // sim_topk scan shape. At 100 TB the candidate stage rides the
    // IVF route (probe cells, then the label filter) unchanged.
    sql("mine_hard_negatives",
      s"""WITH ${D.microRel(extra = "label, ")},
        |p AS (SELECT a.vec_id AS a_id, a.label AS a_label,
        |             c.vec_id AS neg_id, c.label AS neg_label,
        |             ${D.sqdInt("a.qe", "c.qe")} AS d2
        |      FROM e a JOIN e c ON a.vec_id < 20 AND c.label <> a.label)
        |${topKSql("p", 3, "d2, neg_id", "d2", "d2",
            ids = "a_id, a_label, neg_id, neg_label", part = "a_id")}""".stripMargin) { (s, d) =>
      val e0 = microVecsL(s, d)
      val anchors = e0.filter(col("vec_id") < 20)
        .select(col("vec_id").as("a_id"), col("label").as("a_label"),
          col("qe").as("aq"))
      topK(e0.select(col("vec_id").as("neg_id"), col("label").as("neg_label"),
          col("qe").as("cq"))
        .join(broadcast(anchors), col("neg_label") =!= col("a_label"))
        .select(col("a_id"), col("a_label"), col("neg_id"), col("neg_label"),
          sqd(col("aq"), col("cq")).as("d2")), col("a_id"), 3, col("d2"), col("neg_id"))
        .select(col("a_id"), col("a_label"), col("neg_id"), col("neg_label"),
          col("rnk"), col("d2"))
        .orderBy(col("a_id"), col("rnk"))
    },

    // ---- attribute-filtered ANN on the IVF route ------------------------
    // Filtered vector search — the dial every production vector store
    // ships: top-k nearest AMONG candidates satisfying a metadata
    // predicate (here: label = (query's label + 1) mod 10, ~10%
    // selectivity). The predicate rides INSIDE the probed-cell
    // candidate join, below the top-k window (PRE-filtering): the
    // top-3 are guaranteed to satisfy the filter. The tempting
    // alternative — post-filtering an unfiltered top-k — silently
    // under-returns whenever the true top-k contains non-matching
    // vectors (the spec demonstrates this on the fixture). Scale
    // shape: identical to sim_ivf's cell-keyed join with one more
    // conjunct — the filter prunes candidates at the join, so a
    // selective filter makes the scan CHEAPER, never wider; the
    // production note is that a filter of selectivity s thins each
    // probed cell to s·|cell|, so serving raises nprobe to keep k
    // matches (we use the established nprobe=2).
    sql("sim_ivf_filtered", {
      s"""WITH ${filteredIvfCtes("label", 10)}
         |${topKSql("p", 3, "d2, c_id", "d2", "d2", ids = "q_id, c_id, c_label")}""".stripMargin
    }) { (s, d) =>
      filteredTop3(microVecsL(s, d), cent = Some(quantCent(s, d)),
        layer = Some(quantLayer(s, d)))
    },

    // ---- filtered ANN at the WIDE dial, hash-verified -------------------
    // Every other oracled key serves the canonical nprobe = 2, so the
    // top-w routing's w > 2 path (MinPairW(8) + the w = 8 oracle CTE
    // + the r17 query-frame-only width split) was spec- and
    // probe-covered but never ORACLED. This key serves the SAME
    // filtered search at nprobe = 8 — the serving-rule regime where
    // wide widths actually get dialed — and hash-matches DuckDB
    // running the identical split: assignment through the w = 2
    // chain (rn = 1), queries through a SECOND w = 8 rank CTE over
    // the 20-row query frame. At the fixture's 16-cell geometry the
    // 8-probe plan covers half the cells; the provisioning theorem
    // (≥ min(nprobe, cells) probed cells) is what makes the plan
    // structurally identical on any corpus, not just this fixture.
    sql("sim_ivf_filtered_probe8", {
      s"""WITH ${filteredIvfCtes("label", 10, 8)}
         |${topKSql("p", 3, "d2, c_id", "d2", "d2", ids = "q_id, c_id, c_label")}""".stripMargin
    }) { (s, d) =>
      filteredTop3(microVecsL(s, d), nprobe = 8,
        cent = Some(quantCent(s, d)), layer = Some(quantLayer(s, d)))
    },

    // ---- selectivity-adaptive filtered ANN (the ACORN-style switch) ----
    // Round 14's ivffilter probe measured the serving rule (a filter
    // of selectivity s thins each probed cell to s·|cell|, so keeping
    // k matches needs nprobe ∝ 1/s); this key puts the resulting
    // ROUTE DECISION in the operator (ACORN, Patel et al. 2024: below
    // a selectivity threshold, predicate-first exact search beats
    // predicate-inside-traversal). The dial: from the label histogram
    // (one metadata-sized aggregate), if even the most COMMON label
    // cannot be expected to fill k from the probed cells
    // (maxLabelCnt · nprobe · perCell < k · n, pure integers), the
    // whole query batch routes to PRE-FILTERED EXACT search — the
    // corpus scan keeps only the ≤ |Q| wanted labels (a pushable
    // predicate; the surviving fraction is ~|Q|/M of the corpus) and
    // brute-forces exact top-k over that sliver. Otherwise the
    // IVF route (filteredTop3) serves as usual. The decision is a
    // genuine PLAN flip (spec-asserted: the sparse plan has no probe
    // join), and the key runs BOTH regimes — fixture-dense labels
    // (mod 10 → IVF route) and synthetic-sparse (mod 200 → exact
    // route) — so the hash match proves the switch picked the path
    // whose oracle twin it equals in each regime.
    sql("sim_ivf_filtered_adaptive", {
      s"""WITH ${filteredIvfCtes("CAST(vec_id % 10 AS INT)", 10)},
         |${D.microRel("e2", "CAST(vec_id % 200 AS INT) AS label, ")},
         |q2 AS (SELECT vec_id AS q_id, label AS q_label, qe AS qq FROM e2
         |       WHERE vec_id < 20),
         |p2 AS (SELECT q.q_id, c.vec_id AS c_id, c.label AS c_label,
         |              ${D.sqdInt("q.qq", "c.qe")} AS d2
         |       FROM q2 q JOIN e2 c
         |         ON c.label = (q.q_label + 1) % 200 AND c.vec_id <> q.q_id)
         |SELECT * FROM (
         |  SELECT 'dense' AS regime, q_id, c_id, c_label, rnk, d2 FROM
         |    (SELECT q_id, c_id, c_label, d2,
         |            row_number() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS rnk
         |     FROM p) t1
         |  WHERE rnk <= 3
         |  UNION ALL
         |  SELECT 'sparse' AS regime, q_id, c_id, c_label, rnk, d2 FROM
         |    (SELECT q_id, c_id, c_label, d2,
         |            row_number() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS rnk
         |     FROM p2) t2
         |  WHERE rnk <= 3) u
         |ORDER BY regime, q_id, rnk""".stripMargin
    }) { (s, d) =>
      val e0 = microVecs(s, d)
      def lab(m: Int) = e0.select(col("vec_id"),
        pmod(col("vec_id"), lit(m)).cast("int").as("label"), col("qe"))
      filteredAdaptive(lab(10), 10, cent = Some(quantCent(s, d)),
          layer = Some(quantLayer(s, d)))
        .withColumn("regime", lit("dense"))
        .unionByName(filteredAdaptive(lab(200), 200,
          cent = Some(quantCent(s, d)), layer = Some(quantLayer(s, d)))
          .withColumn("regime", lit("sparse")))
        .select(col("regime"), col("q_id"), col("c_id"), col("c_label"),
          col("rnk"), col("d2"))
        .orderBy(col("regime"), col("q_id"), col("rnk"))
    },

    // ---- per-query probe width from the serving rule (r18) --------------
    // The width dial, closed per query: SCALE.md's ivffilter table
    // verified nprobe ≈ 2–3 × k/(s·|cell|) to the decimals, and both
    // s (wanted-label count / n, from the bounded-domain histogram)
    // and k are known AT QUERY TIME — so this key computes each
    // query's width w = min(max(⌈3k·n/(cnt·perCell)⌉, 2), cells/4)
    // and then applies the ACORN flip per query (cnt·w·perCell <
    // k·n → pre-filtered exact). One MIXED-selectivity batch: labels
    // at 1/10 (dense, 5 labels over half the corpus), 1/160 (mid, 20
    // labels over a quarter), and ~1/2000 (sparse, 499 labels over a
    // quarter) — so one frame serves w = 2-ish dense probes, wide
    // mid probes (w = 45-clamped at the sf0.1 √n geometry), and
    // exact-routed sparse queries. Serves the √n PRODUCTION geometry
    // through the SAME staged stagedIvfCent artifact as
    // sim_ivf_sqrtn; the oracle carries the identical integer width
    // formula (w and route are output columns — the hash pins the
    // formula, not just the neighbors). The probe8 key stays as the
    // fixed-width pin.
    sql("sim_ivf_filtered_perq", {
      s"""WITH ${D.ivf(D.microRel(extra = s"${tierLabelDuck("vec_id")} AS label, "), D.sqrtnPc)},
         |$widthRouteCtes,
         |${D.cellCand("e.label AS c_label, ")},
         |pi AS (SELECT q.q_id, q.w, c.c_id, c.c_label, ${D.sqdInt("q.qq", "c.ce2")} AS d2
         |       FROM qr q JOIN dq ON dq.vec_id = q.q_id AND dq.rn <= q.w
         |            JOIN cand c ON c.cell = dq.cid AND c.c_label = q.w_label
         |                       AND c.c_id <> q.q_id
         |       WHERE q.route = 'ivf'),
         |pe AS (SELECT q.q_id, q.w, c.vec_id AS c_id, c.label AS c_label,
         |              ${D.sqdInt("q.qq", "c.qe")} AS d2
         |       FROM qr q JOIN e c ON c.label = q.w_label AND c.vec_id <> q.q_id
         |       WHERE q.route = 'exact')
         |${routeUnionSql("q_id, w, c_id, c_label")}""".stripMargin
    }) { (s, d) => perQueryWServe(s, d) },

    // ---- semantic decontamination (embedding-space eval leakage) -------
    // The third decontamination modality: `decontaminate` catches
    // exact 5-gram leaks, `decontaminate_fuzzy` near-verbatim MinHash
    // leaks — this catches PARAPHRASES: train items whose EMBEDDING
    // sits within cosine ≥ 0.95 of an eval item (the contamination
    // analyses of GPT-3/PaLM-era reports do exactly this sweep).
    // Plants: exact copies of the eval slice at +50000 must surface at
    // cosine 1.0; the uniform-random fixture's organic cross-pairs top
    // out far below the threshold, so the output is exactly the
    // planted leak set with its best eval match.
    // 100 TB shape: the eval suite is tiny and BROADCASTS (the same
    // asymmetry as both other decontam keys); the train scan is one
    // map-side cosine sweep — O(train·|eval|) flops, no shuffle but
    // the output sort, and the IVF/PQ dials measured in this file are
    // the drop-in accelerators when |eval| grows.
    sql("decontaminate_semantic",
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0
         |  UNION ALL
         |  SELECT vec_id + 50000, embedding FROM embeddings WHERE vec_id % 50 = 0),
         |ev AS (SELECT vec_id AS eval_id, embedding AS ee, ${D.norm("embedding")} AS en
         |       FROM embeddings WHERE vec_id % 50 = 0),
         |tr AS (SELECT vec_id, embedding, ${D.norm("embedding")} AS nrm FROM corpus),
         |p AS (SELECT t.vec_id, e.eval_id,
         |             ${D.dot("t.embedding", "e.ee")} / (t.nrm * e.en) AS cos
         |      FROM tr t, ev e)
         |SELECT vec_id, eval_id, floor(cos * 1000000 + 0.5) / 1000000 AS cosine
         |FROM (SELECT vec_id, eval_id, cos,
         |             row_number() OVER (PARTITION BY vec_id
         |               ORDER BY cos DESC, eval_id) AS rn
         |      FROM p WHERE cos >= 0.95) x
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin) { (s, d) =>
      val e = emb(s, d)
      val evalSide = e.filter(col("vec_id") % 50 === 0)
      val corpus = e.filter(col("vec_id") % 50 =!= 0)
        .select(col("vec_id"), col("embedding"))
        .unionByName(evalSide.select((col("vec_id") + 50000).as("vec_id"),
          col("embedding")))
      val ev = evalSide.select(col("vec_id").as("eval_id"),
        col("embedding").as("ee"), norm(col("embedding")).as("en"))
      val tr = corpus.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"))
      val cos = cosine(col("embedding"), col("ee"), col("nrm"), col("en"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("eval_id"))
      tr.join(broadcast(ev))
        .select(col("vec_id"), col("eval_id"), cos.as("cos"))
        .filter(col("cos") >= 0.95)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("eval_id"), pr6(col("cos")).as("cosine"))
        .orderBy(col("vec_id"))
    },

    // ---- per-label centroids via a typed Aggregator --------------------
    // Element-wise mean of 64-d vectors per label through
    // graft.functions.VectorMean (custom Aggregator[IN,BUF,OUT]): one
    // fixed-size buffer per group, map-side combined — vs the built-in
    // alternative of posexplode (64× row blowup) + groupBy(dim) +
    // re-assembly. Floored at 1e-4: aggregate summation order differs
    // from the oracle's serial sums by last-ulps only.
    sql("label_centroids",
      """WITH u AS (SELECT label, i, embedding[i]::DOUBLE AS v
        |           FROM embeddings, range(1, 65) t(i)),
        |m AS (SELECT label, i, avg(v) AS mv FROM u GROUP BY label, i)
        |SELECT label,
        |       (SELECT count(*) FROM embeddings e WHERE e.label = m.label) AS n,
        |       floor(max(CASE WHEN i = 1 THEN mv END) * 10000 + 0.5) / 10000 AS c1,
        |       floor(max(CASE WHEN i = 2 THEN mv END) * 10000 + 0.5) / 10000 AS c2,
        |       floor(max(CASE WHEN i = 3 THEN mv END) * 10000 + 0.5) / 10000 AS c3,
        |       floor(max(CASE WHEN i = 4 THEN mv END) * 10000 + 0.5) / 10000 AS c4,
        |       floor(sqrt(sum(mv * mv)) * 10000 + 0.5) / 10000 AS cnorm
        |FROM m GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      import graft.functions.VectorMean
      emb(s, d)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          VectorMean.centroid(col("embedding")).as("c"))
        .select(col("label"), col("n"),
          pr4(element_at(col("c"), 1)).as("c1"),
          pr4(element_at(col("c"), 2)).as("c2"),
          pr4(element_at(col("c"), 3)).as("c3"),
          pr4(element_at(col("c"), 4)).as("c4"),
          pr4(sqrt(dot(col("c"), col("c")))).as("cnorm"))
        .orderBy(col("label"))
    },

    // ---- int8 embedding quantization -----------------------------------
    // Per-vector symmetric quantization to int8 (scale = 127/max|x|),
    // plus the reconstruction error — the compression step a 100 TB
    // embedding store runs before serving. floor(x·scale + 0.5) is the
    // portable round; all arithmetic is identical double ops on both
    // engines.
    sql("embed_quantize",
      s"""WITH m AS (
         |  SELECT vec_id, embedding,
         |         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx
         |  FROM embeddings),
         |q AS (
         |  SELECT vec_id, embedding, mx, 127.0 / mx AS scale,
         |         list_transform(embedding, x -> floor(x::DOUBLE * (127.0 / mx) + 0.5)) AS qv
         |  FROM m)
         |SELECT vec_id,
         |       CAST(list_max(qv) AS BIGINT) AS qmax,
         |       CAST(list_min(qv) AS BIGINT) AS qmin,
         |       floor(sqrt(list_sum(list_transform(range(1, ${dim + 1}),
         |         i -> (embedding[i]::DOUBLE - qv[i] / scale)
         |              * (embedding[i]::DOUBLE - qv[i] / scale)))) * 1000000 + 0.5) / 1000000 AS recon_err
         |FROM q ORDER BY vec_id""".stripMargin) { (s, d) =>
      val mx = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
      // a zero vector has no scale: NULL, as DuckDB's 127.0 / 0 is
      val scale = lit(127.0) / when(col("mx") =!= 0, col("mx"))
      emb(s, d)
        .select(col("vec_id"), col("embedding"), mx.as("mx"))
        .select(col("vec_id"), col("embedding"), col("mx"), scale.as("scale"),
          transform(col("embedding"), x => floor(x.cast("double") * scale + 0.5)).as("qv"))
        .select(col("vec_id"),
          array_max(col("qv")).cast("bigint").as("qmax"),
          array_min(col("qv")).cast("bigint").as("qmin"),
          pr6(sqrt(aggregate(
            zip_with(col("embedding"), col("qv"), (x, q) => {
              val diff = x.cast("double") - q / col("scale")
              diff * diff
            }),
            lit(0.0), (acc, v) => acc + v))).as("recon_err"))
        .orderBy(col("vec_id"))
    },

    // ---- multimodal: struct column of text + vector + metadata ---------
    // documents ⋈ embeddings assembled into one nested struct (the
    // "multimodal row"), operators applied *through* the struct fields;
    // outputs flattened for the oracle. The join broadcasts the
    // narrower embedding side at this SF; at scale it is an equi-join
    // shuffled on the shared id.
    sql("multimodal_select",
      s"""SELECT d.doc_id,
         | d.lang,
         | len(string_split(d.text, ' ')) AS n_tokens,
         | floor(${D.norm("e.embedding")} * 1000000 + 0.5) / 1000000 AS vec_norm,
         | e.label
         |FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val assembled = docs(s, d)
        .join(emb(s, d), col("vec_id") === col("doc_id"))
        .select(struct(
          col("doc_id"),
          struct(col("text"), col("lang"), col("source"), col("n_chars")).as("content"),
          col("embedding").as("vector"),
          struct(col("label"), col("vec_id")).as("meta")).as("doc"))
      assembled.select(
          col("doc.doc_id").as("doc_id"),
          col("doc.content.lang").as("lang"),
          size(split(col("doc.content.text"), " ")).cast("bigint").as("n_tokens"),
          pr6(norm(col("doc.vector"))).as("vec_norm"),
          col("doc.meta.label").as("label"))
        .orderBy(col("doc_id"))
    },

    // ---- multimodal: opaque binary payload + typed metadata ------------
    // The "image" is a deterministic fake (md5 digest bytes of the
    // text — the container has no image codecs, per the brief the
    // decode is a stub); the Spark-side plumbing is real: a binary
    // column, typed width/height metadata derived portably, and
    // features computed from the payload bytes. byte_len reads the
    // actual binary column; b0/brightness use the hex twin so DuckDB
    // can replicate them.
    sql("multimodal_binary",
      """SELECT doc_id,
        | octet_length(unhex(md5(text))) AS byte_len,
        | ('0x' || substr(md5(text), 1, 2))::BIGINT AS b0,
        | (('0x' || substr(md5(text), 1, 8))::BIGINT % 640) + 1 AS width,
        | (('0x' || substr(md5(text), 9, 8))::BIGINT % 480) + 1 AS height,
        | floor(list_sum(list_transform(range(1, 17),
        |   i -> ('0x' || substr(md5(text), 2*i - 1, 2))::BIGINT))::DOUBLE / 16 * 1000000 + 0.5) / 1000000 AS brightness
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val hexCol = md5(col("text"))
      def hexByte(i: Column): Column =
        conv(substring(hexCol, (i * 2 - 1).cast("int"), lit(2)), 16, 10).cast("long")
      docs(s, d)
        .select(col("doc_id"), col("text"),
          unhex(hexCol).as("payload"),
          struct(
            (h32(col("text")) % 640 + 1).as("width"),
            (h32b(col("text")) % 480 + 1).as("height"),
            lit("img16").as("fmt")).as("meta"))
        .select(col("doc_id"),
          length(col("payload")).cast("bigint").as("byte_len"),
          hexByte(lit(1)).as("b0"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          pr6(aggregate(transform(sequence(lit(1), lit(16)), i => hexByte(i)),
            lit(0L), (acc, v) => acc + v).cast("double") / 16).as("brightness"))
        .orderBy(col("doc_id"))
    },

    // ---- approximate k-NN graph over IVF cells -------------------------
    // The whole-corpus neighbor graph (EVERY vector's top-3 in-cell
    // neighbors — sim_ivf restricted its probe side to 20 queries),
    // plus the mutuality flag: an edge is `mutual` when each endpoint
    // lists the other in ITS top-3. The mutual subgraph is the
    // building block graph-based pipelines consume (SemDeDup-style
    // cluster pruning, HNSW layer seeding, graph-diversity sampling);
    // non-mutual edges mark hub vectors that many neighbors point at.
    // Scale shape: candidate generation is bounded per IVF cell
    // (sum of |cell|² total pairs, never corpus²), the top-3 cut is a
    // per-vector window inside the cell join's shuffle, and the
    // mutuality pass is a self-join of the (already top-k-sized,
    // 3n-row) edge list on the reversed key — O(kn), not O(n²).
    sql("knn_graph", {
      s"""WITH $knnEdgeCtes
         |SELECT t.a_id, t.b_id, t.rnk,
         |       floor(t.cos * 1000000 + 0.5) / 1000000 AS cosine,
         |       (r.a_id IS NOT NULL) AS mutual
         |FROM t LEFT JOIN t r ON r.a_id = t.b_id AND r.b_id = t.a_id
         |ORDER BY t.a_id, t.rnk""".stripMargin
    }) { (s, d) =>
      val t = knnEdges(s, d)
      // mutuality: one self-join of the 3n-row edge list on the
      // reversed (a, b) key
      val rev = t.select(col("a_id").as("r_a"), col("b_id").as("r_b"))
      t.join(rev, col("r_a") === col("b_id") && col("r_b") === col("a_id"), "left")
        .select(col("a_id"), col("b_id"), col("rnk"),
          pr6(col("cos")).as("cosine"),
          col("r_a").isNotNull.as("mutual"))
        .orderBy(col("a_id"), col("rnk"))
    },

    // ---- k-NN graph with corpus-scaled cell count ----------------------
    // The production dial in the operator itself (round 14 — SemDeDup
    // §"k grows with the corpus", SCALE.md's knn table measured the
    // law in r13): cells = max(8, ⌈n/125⌉) so per-cell size
    // — and per-row candidate work — stays ≈ 125 FLAT as the corpus
    // grows, instead of the fixed-8-cell key's n²/8 candidate space.
    // At sf0.1 (2000 vectors) this is 16 cells — a genuinely
    // non-default index geometry verified by the oracle, which mirrors
    // the integer sizing formula exactly.
    sql("knn_graph_scaled", {
      s"""WITH ${knnEdgeCtesOver(knnScaledCentCte, twoLevel = true)}
         |SELECT t.a_id, t.b_id, t.rnk,
         |       floor(t.cos * 1000000 + 0.5) / 1000000 AS cosine,
         |       (r.a_id IS NOT NULL) AS mutual
         |FROM t LEFT JOIN t r ON r.a_id = t.b_id AND r.b_id = t.a_id
         |ORDER BY t.a_id, t.rnk""".stripMargin
    }) { (s, d) =>
      // perCell stays the oracled constant 125: oracleSql is a static
      // string, so a session knob here could silently diverge from the
      // oracle's hardcoded sizing — non-default geometries go through
      // knnEdgesScaled(perCell) directly (VectorOpsSpec), where the
      // caller owns the expected counts
      val t = knnEdgesScaled(s, d)
      val rev = t.select(col("a_id").as("r_a"), col("b_id").as("r_b"))
      t.join(rev, col("r_a") === col("b_id") && col("r_b") === col("a_id"), "left")
        .select(col("a_id"), col("b_id"), col("rnk"),
          pr6(col("cos")).as("cosine"),
          col("r_a").isNotNull.as("mutual"))
        .orderBy(col("a_id"), col("rnk"))
    },

    // ---- HNSW-style beam search over the knn graph ---------------------
    // The graph-based ANN serve (Malkov & Yashunin 2018, greedy beam
    // with a genuine layer descent, r16): entry points come from the
    // staged SUPER layer — each query ranks the √cells
    // super-centroids, routes to its top-2 supers, and scores only
    // those supers' child seeds exactly (the upper-layer hop of HNSW,
    // O(√cells) entry work instead of r15's all-cells scan). Beam =
    // best 8 by exact micro-unit L2, 3 unrolled expansion rounds over
    // the stored DEGREE-8 neighbor lists — the measured NAVIGABLE
    // dial (SCALE.md: degree-3 beams to 0.117 recall on planted
    // clusters where degree-8 reaches 0.717; degree is HNSW's M
    // lever, and r15 shipped the losing configuration) — then top-3.
    // All arithmetic integer-exact, all ties (d2, c_id) — the oracle
    // unrolls the identical rounds. Scale shape: after the entry
    // descent every frame is query-sized and broadcast; the edge list
    // is the persisted artifact production would mmap.
    sql("sim_graph_beam", beamOracleSql(8, 3)) { (s, d) =>
      beamTopK(beamParts(s, d)).orderBy(col("q_id"), col("rnk"))
    },

    // ---- beam serve at the WIDE budget dial, hash-verified (r18) -------
    // SCALE.md's r17 budget→recall table prices the 16×5 and 32×5
    // dials but only 8×3 was hash-verified; the probe8 precedent
    // (r17) showed the wide path is exactly where latent
    // under-provision hides. This key serves the SAME persisted
    // degree-8 graph at beam = 16, 5 expansion rounds — the budget a
    // recall-sensitive deployment dials — through the same
    // beamParts, with the oracle unrolling the identical descent +
    // rounds at the wide literals (one shared builder: the two dials
    // CANNOT fork).
    sql("sim_graph_beam_wide", beamOracleSql(16, 5)) { (s, d) =>
      beamTopK(beamParts(s, d, beamW = 16, rounds = 5)).orderBy(col("q_id"), col("rnk"))
    },

    // ---- beam serve at the TOP budget dial (r19, VERDICT r18 #6) -------
    // SCALE.md's budget→recall table tops out at 32×5 (0.833 recall
    // on planted clusters) — the dial a production tuner would
    // actually pick on clustered data. Same persisted degree-8 graph,
    // same shared (beamW, rounds)-parameterized oracle builder as the
    // other two dials, so the three budgets cannot fork.
    sql("sim_graph_beam_32x5", beamOracleSql(32, 5)) { (s, d) =>
      beamTopK(beamParts(s, d, beamW = 32, rounds = 5)).orderBy(col("q_id"), col("rnk"))
    },

    // ---- FILTERED + TOMBSTONED beam search (r20, VERDICT r19 #1) -------
    // Production-dial parity with the IVF route: the graph serve now
    // carries the attribute filter (label = c_id % 10, wanted =
    // (q % 10 + 1) % 10 — the vec_id-derived id-encodes-metadata
    // pattern, zero stored columns) and the tombstone delete set
    // (vec_id % 17 = 3, the same universe as sim_ivf_pq_deletes).
    // The label predicate sits INSIDE the per-round scoring, below a
    // dedicated BeamTopW accumulator cut — post-filtering the final
    // navigation beam under-returns (beamW·selectivity < k matching
    // survivors; spec-demonstrated on this fixture) — while
    // NAVIGATION stays unfiltered (hnswlib/FAISS IDSelector:
    // restricting traversal to the induced matching subgraph cuts
    // connectivity to ~degree/10 edges per node). The tombstone
    // anti-join sits below the expansion on BOTH tiers: a deleted
    // vector never navigates, never fetches floats, never surfaces.
    // Same persisted degree-8 graph, same shared parameterized
    // oracle builder as the three budget dials.
    sql("sim_graph_beam_filtered",
      beamOracleSql(8, 3, labelMod = Some(10), tomb = true)) { (s, d) =>
      topK(beamParts(s, d, labelMod = Some(10), tomb = true),
          col("q_id"), 3, col("d2"), col("c_id"))
        .select(col("q_id"), col("c_id"),
          pmod(col("c_id"), lit(10L)).cast("int").as("c_label"),
          col("rnk"), col("d2"))
        .orderBy(col("q_id"), col("rnk"))
    },

    // ---- recursive CTE: multi-hop reachability over the knn graph ------
    // The last big routed-SQL-verb gap (the reference's router accepts
    // any WITH statement and DuckDB executes recursion natively;
    // Spark 4 executes WITH RECURSIVE as a genuine UnionLoop physical
    // operator — NOT the unrolled-iteration pattern PageRank/BPE/MMR
    // use, so this key pins the engine's actual recursive execution
    // path): transitive reachability from 3 seed vectors over the
    // oracled knn edge list (the same `t` chain knn_graph pins),
    // bounded to 4 hops, emitting each reached node at its MINIMUM
    // hop count. UNION ALL recursion explores all paths (out-degree 3,
    // ≤ 3+9+27+81 rows per seed — bounded by the hop cap, the standard
    // cycle guard when the engine's rCTE has no UNION-distinct); the
    // final aggregate collapses path multiplicity deterministically.
    // Scale shape: each iteration is ONE frontier⋈edges hash join +
    // the loop union — frontier-sized, never corpus-sized; the edge
    // list partitions by a_id so every iteration reuses the same
    // co-partitioning (at 100 TB this is semi-naive BFS, the
    // Datalog/GraphX pattern, with the engine owning the loop).
    sql("graph_reach_recursive", {
      s"""WITH RECURSIVE $knnEdgeCtes,
         |reach(node, hops) AS (
         |  SELECT * FROM (VALUES (0::BIGINT, 0::BIGINT), (1, 0), (2, 0)) v(node, hops)
         |  UNION ALL
         |  SELECT t.b_id, r.hops + 1
         |  FROM reach r JOIN t ON t.a_id = r.node
         |  WHERE r.hops < 4)
         |SELECT node, CAST(min(hops) AS BIGINT) AS hops
         |FROM reach GROUP BY node ORDER BY node""".stripMargin
    }) { (s, d) =>
      knnEdges(s, d).select(col("a_id"), col("b_id"))
        .createOrReplaceTempView("graft_rcte_edges")
      s.sql(
        """WITH RECURSIVE reach(node, hops) AS (
          |  SELECT * FROM VALUES (CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
          |                       (CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
          |                       (CAST(2 AS BIGINT), CAST(0 AS BIGINT)) AS v(node, hops)
          |  UNION ALL
          |  SELECT e.b_id, r.hops + 1
          |  FROM reach r JOIN graft_rcte_edges e ON e.a_id = r.node
          |  WHERE r.hops < 4)
          |SELECT node, CAST(min(hops) AS BIGINT) AS hops
          |FROM reach GROUP BY node ORDER BY node""".stripMargin)
    },

    // ---- PageRank over the k-NN graph ----------------------------------
    // The canonical iterative graph workload, run where a training
    // pipeline actually has a graph: the knn_graph edge list (a data
    // valuation / centrality signal over the corpus — PageRank-style
    // scores rank documents by how many near neighbors point at them).
    // Power iteration in the Pregel shape: each of the 3 fixed rounds
    // is ONE edge-keyed join (ranks ⋈ edges on src) + ONE dst-keyed
    // aggregate — no driver-side graph, no collect. All arithmetic is
    // exact integers: ranks in micro-units, contribution = rank div
    // out-degree, damping as (850000·Σ) div 1e6 — both engines
    // floor-divide identically, so three rounds hash-match with no
    // float surface. At 100 TB: edges partition by src, ranks
    // co-partition, and the per-round shuffle is edge-count-sized —
    // the standard distributed PageRank cost model; iteration count is
    // the convergence dial (fixed here so the oracle can unroll).
    sql("graph_pagerank", {
      def iter(prev: String, out: String) =
        s"""$out AS (
           |  SELECT n.id,
           |         CAST(150000 + (850000 * coalesce(s.m, 0)) // 1000000 AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS id, CAST(sum($prev.r // d.od) AS BIGINT) AS m
           |    FROM e JOIN $prev ON $prev.id = e.src JOIN deg d ON d.src = e.src
           |    GROUP BY e.dst) s ON s.id = n.id)""".stripMargin
      s"""WITH $knnEdgeCtes,
         |e AS (SELECT a_id AS src, b_id AS dst FROM t),
         |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |deg AS (SELECT src, count(*) AS od FROM e GROUP BY src),
         |r0 AS (SELECT id, 1000000::BIGINT AS r FROM nodes),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")}
         |SELECT id, r AS rank_micro FROM r3 ORDER BY id""".stripMargin
    }) { (s, d) =>
      // knnEdges is already cached inside the helper — a second
      // eagerCache here would double-materialize (review finding);
      // the projection below re-derives cheaply from that cache
      pageRankMicro(knnEdges(s, d)
        .select(col("a_id").as("src"), col("b_id").as("dst")), iters = 3)
        .orderBy(col("id"))
    },

    // ---- triangle counting over the k-NN graph -------------------------
    // Per-node triangle membership on the undirected knn edge set — the
    // local-clustering signal (community cores vs hub spokes) graph
    // pipelines compute next after degrees. Distributed-scale shape:
    // edges are ORIENTED low→high by (degree, id) before wedge
    // enumeration, so every wedge is generated at its lowest-degree
    // vertex — candidate wedges are Σ out-deg², bounded O(m^1.5) by
    // arboricity instead of exploding at hubs (a knn graph's in-degree
    // is unbounded even when k=3) — then closed by one join against the
    // oriented edge list. Every triangle has exactly ONE source vertex
    // under an acyclic orientation, so each is counted once; the oracle
    // uses the simpler id-orientation — a DIFFERENT acyclic orientation
    // that provably enumerates the same triangle set (the spec
    // additionally cross-checks the two orientations in Spark).
    sql("graph_triangles", {
      s"""WITH $knnEdgeCtes,
         |ud AS (SELECT DISTINCT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v
         |       FROM t),
         |tri AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM ud e1 JOIN ud e2 ON e2.u = e1.v
         |  JOIN ud e3 ON e3.u = e1.u AND e3.v = e2.v)
         |SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
         |FROM (SELECT a AS id FROM tri
         |      UNION ALL SELECT b FROM tri
         |      UNION ALL SELECT c FROM tri) m
         |GROUP BY id ORDER BY id""".stripMargin
    }) { (s, d) =>
      triangleCounts(s, d, byDegree = true)
    },

    // ---- exact media dedup (binary-payload fingerprinting) -------------
    // The multimodal twin of dedup_exact: fingerprint the OPAQUE binary
    // payload (no decode needed — crawls dedup images/audio by content
    // hash before any pixel work) and keep one owner per distinct blob.
    // The fingerprint is computed from the payload BYTES (md5 over the
    // hex encoding — DuckDB's md5 is VARCHAR-only, and hex() is
    // uppercase in both engines), not from the text the fixture derives
    // them from; planted re-uploads (+10000) collapse onto their
    // original. One map-side projection + one groupBy on the
    // fingerprint — the same partial-agg single-shuffle shape as
    // dedup_exact, payload bytes never shuffled (only the 32-char fp).
    sql("dedup_media",
      """WITH media AS (
        |  SELECT doc_id, unhex(md5(text)) AS payload FROM documents
        |  UNION ALL SELECT doc_id + 10000, unhex(md5(text)) FROM documents),
        |fp AS (SELECT doc_id, md5(hex(payload)) AS media_fp,
        |              octet_length(payload) AS byte_len FROM media)
        |SELECT media_fp, min(doc_id)::BIGINT AS keeper,
        |       count(*)::BIGINT AS n_copies, min(byte_len)::BIGINT AS byte_len
        |FROM fp GROUP BY media_fp ORDER BY keeper""".stripMargin) { (s, d) =>
      val base = docs(s, d).select(col("doc_id"), unhex(md5(col("text"))).as("payload"))
      val media = base.unionByName(
        base.select((col("doc_id") + 10000).as("doc_id"), col("payload")))
      mediaDedup(media)
    },

    // ---- perceptual near-dup media pairs (multi-index hamming) ---------
    // Exact fingerprints miss re-encoded media; production pipelines
    // (pHash/PDQ-style) compare short perceptual hashes under a small
    // hamming radius. PRODUCTION WIDTH (round 14): the phash is 64
    // bits held as four 16-bit pigeonhole blocks — any pair within
    // hamming 1 agrees EXACTLY on at least 3 of the 4 blocks, so four
    // block-keyed self-joins (65,536 buckets each, bucket size
    // ≈ n/65536) generate every qualifying candidate, never an
    // all-pairs scan; the former 16-bit/8-bit-block shape saturated at
    // ~1e5 rows (n²/256 candidates — SCALE.md's phash table).
    // Hamming sums the four per-block XOR popcounts, so no 64-bit
    // value ever materializes (signed-safe in both engines). Each
    // planted +30000 re-encode perturbs ONE byte's high bit in block
    // 3 → hamming exactly 1 from its original.
    sql("multimodal_phash", {
      def blockOf(h: String) =
        s"""list_sum(list_transform(range(0, 16), i ->
           |  CASE WHEN ('0x' || substr($h, 2*i + 1, 2))::BIGINT >= 128
           |       THEN (1::BIGINT << i) ELSE 0 END))::BIGINT""".stripMargin
      def candHalf(k: Int) =
        s"""SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |       a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
           |       b.b0 AS c0, b.b1 AS c1, b.b2 AS c2, b.b3 AS c3
           |FROM blocks a JOIN blocks b ON a.b$k = b.b$k AND a.doc_id < b.doc_id""".stripMargin
      val ham = (0 to 3).map(k => s"bit_count(xor(a$k, c$k))").mkString(" + ")
      s"""WITH d4 AS (
         |  SELECT doc_id, md5('0:' || text) AS h0, md5('1:' || text) AS h1,
         |         md5('2:' || text) AS h2, md5('3:' || text) AS h3
         |  FROM documents),
         |media AS (
         |  SELECT doc_id, h0, h1, h2, h3 FROM d4
         |  UNION ALL
         |  SELECT doc_id + 30000, h0, h1, h2,
         |         substr(h3, 1, 30) ||
         |           printf('%02x', (('0x' || substr(h3, 31, 2))::BIGINT + 128) % 256)
         |  FROM d4),
         |blocks AS (SELECT doc_id, ${blockOf("h0")} AS b0, ${blockOf("h1")} AS b1,
         |                  ${blockOf("h2")} AS b2, ${blockOf("h3")} AS b3 FROM media),
         |cand AS (${(0 to 3).map(candHalf).mkString("\n", "\nUNION\n", "")})
         |SELECT a_id, b_id, ($ham)::BIGINT AS hamming
         |FROM cand WHERE $ham <= 1
         |ORDER BY a_id, b_id""".stripMargin
    }) { (s, d) =>
      val blocks = phashBlocks(s, d)
      def half(k: Int) = blocks.as("a")
        .join(blocks.as("b"),
          col(s"a.b$k") === col(s"b.b$k") && col("a.doc_id") < col("b.doc_id"))
        .select((col("a.doc_id").as("a_id") +: col("b.doc_id").as("b_id") +:
          (0 to 3).flatMap(j => Seq(col(s"a.b$j").as(s"a$j"), col(s"b.b$j").as(s"c$j")))): _*)
      val ham = (0 to 3).map(j => bit_count(expr(s"a$j ^ c$j")))
        .reduce(_ + _).cast("bigint")
      // hamming filter BEFORE the distinct: the radius cut is a pure
      // map-side projection (codegen), so the dedup shuffle carries
      // only the ≤1-hamming survivors instead of every block-collision
      // candidate — same result (filter∘dedup ≡ dedup∘filter on a
      // pure function of the row), ~bucket-sized less shuffle at scale
      (0 to 3).map(half).reduce(_.union(_))
        .withColumn("hamming", ham)
        .filter(col("hamming") <= 1)
        .distinct()
        .select(col("a_id"), col("b_id"), col("hamming"))
        .orderBy(col("a_id"), col("b_id"))
    }
  )
}
