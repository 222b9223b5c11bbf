package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class VectorOpsSpec extends SparkSpec {

  private def run(key: String) =
    SparkEntry.queries(key)(spark, sfDir)

  /** cell=N leaf directories of an inverted-list dir — r17 layout
    * nests them under shard=K (listing-bounded serve); a flat cell=
    * child would be a layout regression, so the helper counts ONLY
    * the sharded leaves and the callers' equality assertions catch a
    * writer that forgot the shard level.
    */
  private def cellDirs(lists: String): Seq[java.io.File] =
    Option(new java.io.File(lists).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
      .flatMap(sh => Option(sh.listFiles()).toSeq.flatten)
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))

  test("sim_topk: k results per query, cosine within [-1, 1], ranks dense") {
    val out = run("sim_topk").cache()
    val perQ = out.groupBy("q_id").agg(count(lit(1)).as("n"),
      max(col("rnk")).as("maxr"), min(col("rnk")).as("minr"))
    assert(perQ.filter(col("n") =!= 5 || col("maxr") =!= 5 || col("minr") =!= 1).count() == 0)
    assert(out.filter(col("cosine") > 1.000001 || col("cosine") < -1.000001).count() == 0)
  }

  test("cosine top-k is invariant under positive scaling of the corpus") {
    import graft.ops.QueryDef
    // scale every embedding by 3: cosine unchanged → same neighbors
    val e = Tables.embeddings(spark, sfDir)
    val scaled = e.withColumn("embedding",
      expr("transform(embedding, x -> x * CAST(3.0 AS FLOAT))"))
    scaled.createOrReplaceTempView("graft_scaled_emb")
    def topk(df: org.apache.spark.sql.DataFrame) = {
      val n = df.select(col("vec_id"), col("embedding"),
        sqrt(expr("aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), (a, v) -> a + v)")).as("nrm"))
      val q = n.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn"))
      val c = n.select(col("vec_id").as("c_id"), col("embedding").as("ce"), col("nrm").as("cn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
      broadcast(q).join(c, col("c_id") =!= col("q_id"))
        .select(col("q_id"), col("c_id"),
          (expr("aggregate(zip_with(qe, ce, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (a, v) -> a + v)")
            / (col("qn") * col("cn"))).as("cos"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("q_id", "c_id", "rnk")
    }
    assert(topk(e).exceptAll(topk(scaled)).count() == 0)
  }

  test("ANN recall: LSH and IVF answers are a subset-quality tradeoff, not garbage") {
    import org.apache.spark.sql.DataFrame
    // brute-force ground truth for the same queries (vec_id < 20, k=3)
    val e = Tables.embeddings(spark, sfDir)
    val n = e.selectExpr("vec_id", "embedding",
      "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), (a, v) -> a + v)) AS nrm")
    val q = n.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    val c = n.select(col("vec_id").as("c_id"), col("embedding").as("ce"), col("nrm").as("cn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    val truth = broadcast(q).join(c, col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        (expr("aggregate(zip_with(qe, ce, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (a, v) -> a + v)")
          / (col("qn") * col("cn"))).as("cos"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("q_id"), col("c_id"))
    def recall(ann: DataFrame): Double = {
      val hits = ann.select(col("q_id"), col("c_id")).intersect(truth).count()
      hits.toDouble / truth.count()
    }
    val rLsh = recall(SparkEntry.queries("sim_ann_lsh")(spark, sfDir))
    val rIvf = recall(SparkEntry.queries("sim_ivf")(spark, sfDir))
    val rMulti = recall(SparkEntry.queries("sim_ann_multiprobe")(spark, sfDir))
    // The testdata embeddings are uniformly random — the adversarial
    // case for ANN (a true neighbor of a random vector is still nearly
    // orthogonal, so each hyperplane agrees only with p≈0.5 and an
    // 8-bit bucket match is ~0.4% for non-identical vectors; IVF's
    // 8 cells give ~1/8 chance the neighbor shares the cell). On
    // clustered real embeddings both climb steeply. Here we pin the
    // deterministic floors: candidates exist and beat a 0-recall
    // degenerate index.
    assert(rLsh > 0.0, s"LSH recall $rLsh")
    assert(rIvf > 0.08, s"IVF recall $rIvf")
    // multi-probe candidates are a strict superset of the single-bucket
    // candidates (mask 0 IS the query bucket), so recall cannot drop —
    // and the 37 hamming≤2 probes must lift it well above the
    // single-bucket floor even on this adversarial data
    assert(rMulti >= rLsh, s"multi-probe recall $rMulti < single-bucket $rLsh")
    assert(rMulti >= 0.15, s"multi-probe recall $rMulti")
    // the composed production dial (Lloyd-refined cells × nprobe=2)
    // must not lose to either single dial: refinement and probe-2
    // address orthogonal failure modes (cell boundary placement vs
    // boundary crossings), so composing them can only help — measured
    // 0.467 vs 0.333/0.417 at this scale (SCALE.md round-13 table)
    val rRefined = recall(SparkEntry.queries("sim_ivf_refined")(spark, sfDir))
    val rProbe2 = recall(SparkEntry.queries("sim_ivf_probe2")(spark, sfDir))
    val rBoth = recall(SparkEntry.queries("sim_ivf_refined_probe2")(spark, sfDir))
    assert(rBoth >= rRefined, s"composed $rBoth < refined $rRefined")
    assert(rBoth >= rProbe2, s"composed $rBoth < probe2 $rProbe2")
    info(f"recall@3 on uniform-random vectors: lsh=$rLsh%.3f multiprobe=$rMulti%.3f ivf=$rIvf%.3f refined=$rRefined%.3f probe2=$rProbe2%.3f composed=$rBoth%.3f")
  }

  test("dedup_embedding finds exactly the planted exact copies") {
    val out = run("dedup_embedding").cache()
    val n = Tables.embeddings(spark, sfDir).count()
    val planted = out.filter(col("vec_b") === col("vec_a") + 10000)
    assert(planted.count() == n) // every copy found in its bucket
    assert(planted.filter(col("cosine") < 0.999999).count() == 0)
  }

  test("VectorMean aggregator: duplication-invariant, dimension-correct centroid") {
    import graft.functions.VectorMean
    val e = Tables.embeddings(spark, sfDir)
    def centroids(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("label"))
        .agg(VectorMean.centroid(col("embedding")).as("c"))
        .select(col("label"), expr("transform(c, x -> floor(x * 1e9 + 0.5))").as("cq"))
    // duplicating every row leaves the mean unchanged (merge path hit
    // harder, sums double, n doubles)
    val doubled = e.union(e).repartition(16)
    assert(centroids(e).exceptAll(centroids(doubled)).count() == 0)
    val dims = SparkEntry.queries("label_centroids")(spark, sfDir)
    assert(dims.count() == e.select("label").distinct().count())
  }

  test("VectorMean rejects ragged input instead of truncating") {
    import graft.functions.VectorMean
    val ragged = spark.sql(
      """SELECT 'a' AS label, CAST(array(1.0, 2.0) AS ARRAY<FLOAT>) AS v
        |UNION ALL
        |SELECT 'a', CAST(array(1.0, 2.0, 3.0) AS ARRAY<FLOAT>)""".stripMargin)
    val ex = intercept[Exception] {
      ragged.groupBy(col("label"))
        .agg(VectorMean.centroid(col("v")).as("c")).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(ex).exists(_.contains("inconsistent vector dimension")))
    // a zero-length FIRST vector must not bypass the dimension check
    val emptyFirst = spark.sql(
      """SELECT 'a' AS label, CAST(array() AS ARRAY<FLOAT>) AS v
        |UNION ALL
        |SELECT 'a', CAST(array(1.0, 2.0) AS ARRAY<FLOAT>)""".stripMargin)
      .coalesce(1) // one partition → the empty row can arrive first
    val ex2 = intercept[Exception] {
      emptyFirst.groupBy(col("label"))
        .agg(VectorMean.centroid(col("v")).as("c")).collect()
    }
    assert(chain(ex2).exists(_.contains("inconsistent vector dimension")))
  }

  test("embed_quantize: int8 range respected, max |q| hits 127, small error") {
    val out = run("embed_quantize").cache()
    assert(out.count() == Tables.embeddings(spark, sfDir).count())
    assert(out.filter(col("qmax") > 127 || col("qmin") < -127).count() == 0)
    // symmetric scale means the largest-magnitude component maps to ±127
    assert(out.filter(col("qmax") =!= 127 && col("qmin") =!= -127).count() == 0)
    assert(out.filter(col("recon_err") < 0 || col("recon_err") > 0.1).count() == 0)
  }

  test("multimodal_select: one row per document, norm positive") {
    val out = run("multimodal_select")
    assert(out.count() == Tables.documents(spark, sfDir).count())
    assert(out.filter(col("vec_norm") <= 0).count() == 0)
  }

  test("multimodal_binary: 16-byte payloads, bytes in range, metadata bounded") {
    val out = run("multimodal_binary")
    assert(out.filter(col("byte_len") =!= 16).count() == 0)
    assert(out.filter(col("b0") < 0 || col("b0") > 255).count() == 0)
    assert(out.filter(col("width") < 1 || col("width") > 640 ||
      col("height") < 1 || col("height") > 480).count() == 0)
    assert(out.filter(col("brightness") < 0 || col("brightness") > 255).count() == 0)
  }

  test("stream_embed_index: streamed index is complete, bucket-partitioned, exactly-once, searchable") {
    val root = graft.ops.purgeOnExit(
      s"${graft.ops.scratchRoot(spark)}/spec_emb_idx_${ProcessHandle.current().pid()}")
    val path = s"$root/idx"
    val idx1 = graft.ops.Vectors.buildStreamedIndex(spark, sfDir, Some(path))
    val n1 = idx1.count()
    assert(n1 == Tables.embeddings(spark, sfDir).count()) // every vector ingested
    // layout IS the search structure: parquet partitioned by bucket
    val dirs = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
    assert(dirs.exists(_.getName.startsWith("bkt=")))
    // restart against the same checkpoint: exactly-once, nothing replays
    val idx2 = graft.ops.Vectors.buildStreamedIndex(spark, sfDir, Some(path))
    assert(idx2.count() == n1)
    // vectors inserted through the stream are found by the multi-probe
    // search, identically to the key's own (fresh-index) run
    val viaSpec = graft.ops.Vectors.searchStreamedIndex(idx2)
    val viaKey = SparkEntry.queries("stream_embed_index")(spark, sfDir)
    assert(viaSpec.count() > 0)
    assert(viaSpec.exceptAll(viaKey).count() == 0)
    assert(viaKey.exceptAll(viaSpec).count() == 0)
  }

  test("dedup_semantic: every planted copy drops, every original survives") {
    val out = run("dedup_semantic").cache()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.count() == 2 * n)
    // the +10000 copies tie their originals on centroid distance and
    // lose the id tie-break — exactly the copies drop
    assert(out.filter(col("vec_id") >= 10000 && col("kept")).count() == 0)
    assert(out.filter(col("vec_id") < 10000 && !col("kept")).count() == 0)
    // a doc and its copy see each other: both report dup_cnt ≥ 1
    assert(out.filter(col("dup_cnt") < 1).count() == 0)
  }

  test("sim_pq_adc: dense top-3 per query, ADC distance sorted and non-negative") {
    val out = run("sim_pq_adc").cache()
    val perQ = out.groupBy("q_id").agg(count(lit(1)).as("n"),
      max(col("rnk")).as("maxr"), min(col("rnk")).as("minr"))
    assert(perQ.filter(col("n") =!= 3 || col("maxr") =!= 3 || col("minr") =!= 1).count() == 0)
    assert(out.filter(col("approx_d2") < 0).count() == 0)
    // within a query, rank order is distance order
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("rnk"))
    assert(out.withColumn("prev", lag(col("approx_d2"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") > col("approx_d2"))
      .count() == 0)
  }

  test("sim_pq_rerank: answers come from the ADC shortlist and exact order holds") {
    val rr = run("sim_pq_rerank").cache()
    // dense top-3 per query, exact_d2 non-negative, rank = distance order
    val perQ = rr.groupBy("q_id").agg(count(lit(1)).as("n"), max(col("rnk")).as("maxr"))
    assert(perQ.filter(col("n") =!= 3 || col("maxr") =!= 3).count() == 0)
    assert(rr.filter(col("exact_d2") < 0).count() == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("rnk"))
    assert(rr.withColumn("prev", lag(col("exact_d2"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") > col("exact_d2"))
      .count() == 0)
    // exact re-rank of the top-32 shortlist must recover AT LEAST the
    // true neighbors the raw ADC top-3 already had (vs exact-L2 brute
    // force) — the whole point of the second tier. Ground truth on the
    // same micro-unit arithmetic as the operator.
    val e = Tables.embeddings(spark, sfDir).selectExpr("vec_id",
      "transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000 + 0.5)) AS qe")
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("qe").as("qq"))
    val c = e.select(col("vec_id").as("c_id"), col("qe").as("cq"))
    val d2 = expr("aggregate(zip_with(qq, cq, (x, y) -> (x - y) * (x - y)), CAST(0 AS DOUBLE), (a, v) -> a + v)")
    val wT = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2"), col("c_id"))
    val truth = broadcast(q).join(c, col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"), d2.as("d2"))
      .withColumn("rnk", row_number().over(wT)).filter(col("rnk") <= 3)
      .select(col("q_id"), col("c_id"))
    def hits(df: org.apache.spark.sql.DataFrame): Long =
      df.select(col("q_id"), col("c_id")).intersect(truth).count()
    val hAdc = hits(run("sim_pq_adc"))
    val hRr = hits(rr)
    assert(hRr >= hAdc, s"rerank hits $hRr < adc hits $hAdc")
    assert(hRr > 0, "rerank must recover at least one true neighbor")
  }

  test("sim_ivf_pq: cell-restricted ADC agrees with full ADC on shared pairs") {
    val ivfpq = run("sim_ivf_pq").cache()
    val adc = run("sim_pq_adc").cache()
    // dense top-3 per query, distance-sorted
    val perQ = ivfpq.groupBy("q_id").agg(count(lit(1)).as("n"), max(col("rnk")).as("maxr"))
    assert(perQ.filter(col("n") =!= 3 || col("maxr") =!= 3).count() == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("rnk"))
    assert(ivfpq.withColumn("prev", lag(col("approx_d2"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") > col("approx_d2"))
      .count() == 0)
    // the composed index scans a SUBSET of full ADC's candidates, so:
    // (a) any (q, c) pair both keys return must carry the IDENTICAL
    // ADC distance (same codes, same tables — the cell filter cannot
    // change the arithmetic);
    val shared = ivfpq.select(col("q_id"), col("c_id"), col("approx_d2").as("da"))
      .join(adc.select(col("q_id"), col("c_id"), col("approx_d2").as("db")),
        Seq("q_id", "c_id"))
    assert(shared.filter(col("da") =!= col("db")).count() == 0,
      "shared pairs disagree on ADC distance")
    assert(shared.count() > 0, "no overlap with full ADC top-3 at all")
    // (b) per query, restricting candidates can only RAISE the best
    // (smallest) distance — never produce a closer candidate than the
    // full scan found
    val best = ivfpq.filter(col("rnk") === 1)
      .select(col("q_id"), col("approx_d2").as("ba"))
      .join(adc.filter(col("rnk") === 1)
        .select(col("q_id"), col("approx_d2").as("bb")), Seq("q_id"))
    assert(best.filter(col("ba") < col("bb")).count() == 0,
      "cell-restricted scan beat the full scan")
    ivfpq.unpersist(); adc.unpersist(); ()
  }

  test("graph_pagerank: every node ranked, floor rank iff no in-edges, mass sane") {
    val ranks = run("graph_pagerank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = run("knn_graph").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
    assert(ranks.keySet == nodes, "rank set != graph node set")
    val hasIn = edges.map(_._2).toSet
    ranks.foreach { case (id, r) =>
      assert(r >= 150000L, s"node $id below damping floor")
      if (!hasIn(id)) assert(r == 150000L, s"source-only node $id rank $r")
      else assert(r > 150000L, s"node $id has in-edges but floor rank")
    }
    // total mass stays in the same regime as the n·1e6 start (leaks
    // only via dangling nodes — bounded sanity, not exact conservation)
    val total = ranks.values.sum
    assert(total > 150000L * ranks.size && total < 2000000L * ranks.size)
  }

  test("decontaminate_semantic: exactly the planted leaks, each matched to its eval twin at 1.0") {
    val out = run("decontaminate_semantic").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val evals = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 50 === 0).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    // every planted copy (+50000) surfaces, matched to ITS eval source
    // at cosine exactly 1.0 — and nothing organic crosses 0.95 on the
    // uniform-random fixture
    assert(out.map(_._1).toSet == evals.map(_ + 50000),
      s"flagged set != planted set: ${out.toSeq.sortBy(_._1)}")
    out.foreach { case (tid, eid, cos) =>
      assert(eid == tid - 50000, s"plant $tid matched wrong eval $eid")
      assert(cos == 1.0, s"plant $tid cosine $cos")
    }
  }

  test("knn_graph: dense per-node ranks, correct mutuality flags, bounded cosine") {
    val edges = run("knn_graph").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(edges.nonEmpty)
    // ranks are a dense 1..k (k ≤ 3) prefix per source node
    edges.groupBy(_._1).foreach { case (a, es) =>
      assert(es.map(_._3).sorted.sameElements(1L to es.length), s"node $a ranks")
      assert(es.length <= 3)
    }
    // the mutual flag is EXACTLY "reverse edge exists in the top-k set"
    val set = edges.map(e => (e._1, e._2)).toSet
    edges.foreach { case (a, b, _, cos, m) =>
      assert(m == set.contains((b, a)), s"mutual($a,$b) flag wrong")
      assert(cos >= -1.0000001 && cos <= 1.0000001)
    }
    // mutuality is symmetric where both directions survive the cut
    val mutuals = edges.filter(_._5).map(e => (e._1, e._2)).toSet
    mutuals.foreach { case (a, b) => assert(mutuals.contains((b, a))) }
  }

  test("dedup_media: every payload group holds its planted re-upload; keeper is the original") {
    val rows = run("dedup_media").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, keeper, n, len) =>
      assert(keeper < 10000, "keeper must be a base doc, never a +10000 re-upload")
      assert(n >= 2 && n % 2 == 0, s"each distinct payload carries its plant (got $n)")
      assert(len == 16)
    }
    // group count = distinct payloads = distinct texts (md5 is injective here)
    val texts = Tables.documents(spark, sfDir).select(col("text")).distinct().count()
    assert(rows.length.toLong == texts)
  }

  test("multimodal_phash: every planted re-encode pairs at hamming 1; radius bound holds") {
    val pairs = run("multimodal_phash").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ids = Tables.documents(spark, sfDir)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val set = pairs.map(p => (p._1, p._2) -> p._3).toMap
    ids.foreach { id =>
      assert(set.get((id, id + 30000)).contains(1L),
        s"planted re-encode of $id missing or not at hamming 1")
    }
    pairs.foreach { case (a, b, h) =>
      assert(a < b, "pairs are canonical (a < b)")
      assert(h >= 0 && h <= 1, s"radius exceeded: $h")
    }
  }

  test("graph_triangles: degree orientation equals id orientation, counts divisible by 3") {
    val byDeg = SparkEntry.queries("graph_triangles")(spark, sfDir)
    val byId = graft.ops.Vectors.triangleCounts(spark, sfDir, byDegree = false)
    // any acyclic orientation enumerates the same triangle set — the
    // production (degree) and oracle (id) orientations must agree row-wise
    assert(byDeg.exceptAll(byId).count() == 0 && byId.exceptAll(byDeg).count() == 0,
      "orientation changed the triangle counts")
    val rows = byDeg.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(1) > 0))
    // each triangle contributes exactly 3 memberships
    assert(rows.map(_.getLong(1)).sum % 3 == 0, "membership mass not divisible by 3")
  }

  test("sim_ivf_filtered_adaptive: the selectivity switch genuinely flips the plan, each branch exact for its regime") {
    import graft.ops.Vectors
    val e0 = Vectors.microVecs(spark, sfDir)
    def lab(m: Int) = e0.select(col("vec_id"),
      pmod(col("vec_id"), lit(m)).cast("int").as("label"), col("qe"))
    // dense labels (mod 10): the IVF route — probe join in the plan
    val dense = Vectors.filteredAdaptive(lab(10), 10)
    val densePlan = dense.queryExecution.executedPlan.toString
    assert(densePlan.contains("pcell"),
      s"dense regime should take the IVF probe route:\n${densePlan.take(2000)}")
    // sparse labels (mod 200, ~2-3 rows/label): the exact route — no
    // probe join anywhere in the plan
    val sparse = Vectors.filteredAdaptive(lab(200), 200)
    val sparsePlan = sparse.queryExecution.executedPlan.toString
    assert(!sparsePlan.contains("pcell"),
      s"sparse regime should pre-filter + search exactly:\n${sparsePlan.take(2000)}")
    // the sparse branch IS exact: equals a direct filtered brute force
    def sqd(a: Column, b: Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0d), (acc, v) => acc + v).cast("bigint")
    val l200 = lab(200)
    val q = l200.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"), col("qe").as("qq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2"), col("c_id"))
    val brute = l200.select(col("vec_id").as("c_id"), col("label").as("c_label"),
        col("qe").as("ce2"))
      .join(broadcast(q), col("c_label") === pmod(col("q_label") + 1, lit(200))
        && col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"), col("c_label"), sqd(col("qq"), col("ce2")).as("d2"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 3)
      .select("q_id", "c_id", "c_label", "rnk", "d2")
    assert(sparse.exceptAll(brute).count() == 0 && brute.exceptAll(sparse).count() == 0,
      "sparse branch diverged from the filtered brute force")
    // and the routes genuinely DISAGREE on sparse labels (the IVF
    // route under-returns when probes can't cover the filter) — the
    // switch exists because the cheap path is wrong here
    val ivfOnSparse = Vectors.filteredTop3(l200, 2, 200)
    assert(ivfOnSparse.count() < sparse.count(),
      "fixture regression: IVF route serves sparse labels fully — the switch would be pointless")
  }

  test("sim_graph_beam: exact scoring, admissible vs brute force, wider beam never worse") {
    val out = run("sim_graph_beam").cache()
    val perQ = out.groupBy("q_id").agg(count(lit(1)).as("n"), max(col("rnk")).as("maxr"))
    assert(perQ.filter(col("n") =!= 3 || col("maxr") =!= 3).count() == 0)
    // every returned d2 is the TRUE exact integer micro-unit L2
    val e0 = graft.ops.Vectors.microVecs(spark, sfDir)
    val truth = out
      .join(e0.select(col("vec_id").as("q_id"), col("qe").as("qq")), Seq("q_id"))
      .join(e0.select(col("vec_id").as("c_id"), col("qe").as("cq")), Seq("c_id"))
      .select(col("q_id"), col("c_id"), col("d2"),
        aggregate(zip_with(col("qq"), col("cq"), (x, y) => (x - y) * (x - y)),
          lit(0d), (acc, v) => acc + v).cast("bigint").as("true_d2"))
    assert(truth.filter(col("d2") =!= col("true_d2")).count() == 0,
      "beam d2 diverged from the direct recompute")
    // admissibility: the beam's best can never beat the exact NN
    val q = e0.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("qe").as("qq"))
    val nn = e0.select(col("vec_id").as("c_id"), col("qe").as("cq"))
      .join(broadcast(q), col("c_id") =!= col("q_id"))
      .select(col("q_id"),
        aggregate(zip_with(col("qq"), col("cq"), (x, y) => (x - y) * (x - y)),
          lit(0d), (acc, v) => acc + v).cast("bigint").as("d2x"))
      .groupBy("q_id").agg(min(col("d2x")).as("nn_d2"))
    assert(out.filter(col("rnk") === 1).join(nn, Seq("q_id"))
      .filter(col("d2") < col("nn_d2")).count() == 0,
      "beam returned a distance below the exact nearest neighbor")
    // FIXTURE-PINNED empirical check (r15 advice): per-query best d2
    // at beam 16 ≤ at beam 8. This is NOT an invariant of greedy beam
    // search in general — beam-16's retained set need not superset
    // beam-8's trajectory — but on this corpus + quantizer it holds,
    // and a silent flip would flag a behavior change worth reading.
    // Here the entry stage makes it an actual superset at round 0:
    // both widths rank the SAME routed super's children, so
    // b0(16) ⊇ b0(8); the pinned property is that the expansion
    // rounds preserve it on this fixture.
    val w8 = out.filter(col("rnk") === 1).select(col("q_id"), col("d2").as("d8"))
    val b16 = graft.ops.Vectors.beamParts(spark, sfDir, beamW = 16)
    val w16 = b16.groupBy("q_id").agg(min(col("d2")).as("d16"))
    assert(w8.join(w16, Seq("q_id")).filter(col("d16") > col("d8")).count() == 0,
      "widening the beam made a query strictly worse (fixture-pinned check — " +
        "see comment; revisit on corpus/quantizer change)")
  }

  test("graph_reach_recursive: genuine UnionLoop execution with exact BFS min-hop levels") {
    val out = run("graph_reach_recursive").cache()
    // 1. the plan must be the engine's recursive operator, not an
    // unrolled union (that would silently cap the recursion depth)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("UnionLoop"),
      s"expected UnionLoop in the plan:\n${plan.take(2000)}")
    // 2. seeds sit at hop 0
    assert(out.filter(col("hops") === 0).select("node").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
    // 3. BFS frontier property, both directions: every level-h node
    // (h > 0) has an in-edge from a level-(h-1) node, and NO in-edge
    // from anything earlier than h-1 (minimality)
    val edges = spark.table("graft_rcte_edges")
    val pred = out.select(col("node").as("p_node"), col("hops").as("p_hops"))
    val best = out.filter(col("hops") > 0)
      .join(edges, col("b_id") === col("node"))
      .join(pred, col("a_id") === col("p_node"))
      .groupBy(col("node"), col("hops"))
      .agg(min(col("p_hops")).as("best_pred"))
    assert(best.filter(col("best_pred") =!= col("hops") - 1).count() == 0,
      "a node's hop level is not min-over-predecessors + 1")
    // 4. the cap holds
    assert(out.filter(col("hops") > 4).count() == 0)
  }

  test("sim_ivf_pq_indexed: equals sim_ivf_pq, and the serve scan partition-prunes on cell") {
    val fromIndex = run("sim_ivf_pq_indexed")
    val inMemory = run("sim_ivf_pq")
    assert(fromIndex.exceptAll(inMemory).count() == 0 &&
      inMemory.exceptAll(fromIndex).count() == 0,
      "persisted-index serve diverged from the in-memory composition")
    // the inverted-list scan must carry the probed cells as PARTITION
    // filters (directory pruning), not data filters
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"expected a cell partition filter in:\n${plan.take(3000)}")
    // a single query probes nprobe=2 of the cells: the files it
    // reads must come from exactly its 2 probed directories, while
    // the index holds files under every non-empty cell — files-read
    // ∝ nprobe/cells
    val idx = graft.ops.Vectors.stagedIvfPqIndex(spark, sfDir)
    val one = graft.ops.Vectors.ivfPqIndexedServe(spark, sfDir, qBound = 1L)
    assert(one.count() > 0)
    val onePlan = one.queryExecution.executedPlan.toString
    val cellsInFilter = "cell#\\d+L? IN \\(([^)]*)\\)".r
      .findFirstMatchIn(onePlan).map(_.group(1).split(",").length)
    assert(cellsInFilter.contains(2),
      s"single-query serve should probe exactly 2 cells; plan:\n${onePlan.take(3000)}")
    // disk partitions = cells the refined assignment actually uses:
    // the quantizer trains max(8, ceil(n/125)) centroids and every
    // cell that wins at least one vector is a directory
    val e0 = graft.ops.Vectors.microVecs(spark, sfDir)
    val cent = graft.ops.Vectors.scaledLloydCent(e0)
    val n = e0.count()
    val expectedCells = math.max(8L, (n + 124) / 125)
    assert(cent.count() == expectedCells,
      s"quantizer should train $expectedCells centroids")
    val usedCells = graft.ops.Vectors.coarseRanked(e0, cent, nprobe = 1)
      .filter(col("rn") === 1).select("cid").distinct().count()
    val totalCells = cellDirs(s"$idx/lists").size
    assert(totalCells == usedCells,
      s"index holds $totalCells cell directories, assignment uses $usedCells")
  }

  test("superLayer invariants: sqrt geometry, total child partition, >=2 routed cells per item") {
    // the structural guarantees the two-level router rests on, pinned
    // directly (r16 review: a single routed super with one child
    // would silently under-provision an nprobe=2 serve — the top-2
    // multi-assign makes >=2 candidate cells a THEOREM, not a fixture
    // accident, because every super has >=1 child: a super-seed is
    // its own E-step member at d2=0)
    val e0 = graft.ops.Vectors.microVecs(spark, sfDir)
    val cent = graft.ops.Vectors.scaledLloydCent(e0).cache()
    val cells = cent.count()
    val (scent, chl) = graft.ops.Vectors.superLayer(cent)
    val sups = scent.count()
    assert(sups == math.max(1L, math.ceil(math.sqrt(cells.toDouble)).toLong),
      s"expected ceil(sqrt($cells)) supers, got $sups")
    // the child map is a PARTITION of the cells: every centroid in
    // exactly one super, every super non-empty
    assert(chl.count() == cells && chl.select("cid").distinct().count() == cells,
      "child map is not a partition of the centroid set")
    val perSuper = chl.groupBy("sid").count()
    assert(perSuper.count() == sups && perSuper.filter(col("count") < 1).count() == 0,
      "a super-centroid lost all children")
    // every item's two-level rank sees the union of its TOP-2 supers'
    // children — at least 2 candidate cells for every vector
    val ranked = graft.ops.Vectors.twoLevelRanked(e0, "vec_id", "qe", scent, chl)
    val perItem = ranked.groupBy("vec_id").count()
    assert(perItem.filter(col("count") < 2).count() == 0,
      "an item routed to fewer than 2 candidate cells")
    // rank is dense from 1 and ordered by (d2c, cid)
    assert(ranked.filter(col("rn") === 1).count() == e0.count())
    cent.unpersist()
  }

  test("MinPairW: lexicographic top-w with exact ties, merge associativity, short groups") {
    import spark.implicits._
    // ties on d2 resolve to the LOWER id — the min(struct) rule the
    // oracle's row_number ORDER BY d2, sid mirrors
    val df = Seq((1L, 5.0, 30L), (1L, 5.0, 10L), (1L, 5.0, 20L), (1L, 7.0, 1L),
      (2L, 3.0, 9L)).toDF("g", "d2", "id")
    val out = df.groupBy("g")
      .agg(graft.functions.MinPairW.topW(2)(col("d2"), col("id")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L) == Seq(10L, 20L), s"tie-break wrong: ${out(1L)}")
    assert(out(2L) == Seq(9L), s"single-element group wrong: ${out(2L)}")
    // w wider than the group returns the whole group best-first; w
    // narrower truncates at exactly w (the routing-width contract)
    val w4 = df.groupBy("g")
      .agg(graft.functions.MinPairW.topW(4)(col("d2"), col("id")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(w4(1L) == Seq(10L, 20L, 30L, 1L), s"w=4 order wrong: ${w4(1L)}")
    assert(w4(2L) == Seq(9L), s"w=4 short group wrong: ${w4(2L)}")
    val nanOrder = Seq((7L, Double.NaN, 5L), (7L, Double.NaN, 3L), (7L, 1.0, 9L),
        (7L, -0.0, 4L), (7L, 0.0, 2L)).toDF("g", "d2", "id")
      .groupBy("g").agg(graft.functions.MinPairW.topW(5)(col("d2"), col("id")).as("ids"))
      .collect()(0).getSeq[Long](1)
    assert(nanOrder == Seq(2L, 4L, 9L, 3L, 5L), s"NaN/signed-zero order wrong: $nanOrder")
    // every w agrees with the window form (row_number ORDER BY d2, id
    // <= w) — the oracle-mirror contract — and repartition-invariance
    // proves merge correctness (map-side combine merges partial
    // buffers in arbitrary order)
    val big = spark.range(0, 1000).selectExpr("id % 7 AS g",
      "CAST(xxhash64(id) % 1000 AS DOUBLE) AS d2", "id")
    // keys compare like Spark's sort — NaN = NaN above every number,
    // -0.0 = 0.0 — so NaN and signed-zero keys, and a small group
    // whose top-w reaches its NaNs, still agree with the window form
    val nanKeys = big.selectExpr("g", "CASE WHEN id % 5 = 0 THEN CAST('NaN' AS DOUBLE) " +
        "WHEN id % 5 = 1 THEN -0.0D WHEN id % 5 = 2 THEN 0.0D ELSE d2 END AS d2", "id")
      .unionByName(Seq((7L, Double.NaN, 5L), (7L, Double.NaN, 3L), (7L, 1.0, 9L),
        (7L, -0.0, 4L), (7L, 0.0, 2L)).toDF("g", "d2", "id"))
    for (keys <- Seq(big, nanKeys); w <- Seq(2, 4, 8)) {
      val wind = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("d2"), col("id"))
      val expect = keys.withColumn("rn", row_number().over(wind))
        .filter(col("rn") <= w).groupBy("g")
        .agg(sort_array(collect_list(struct(col("rn"), col("id")))).as("s"))
        .selectExpr("g", "transform(s, x -> x.id) AS ids")
      val a = keys.repartition(1).groupBy("g")
        .agg(graft.functions.MinPairW.topW(w)(col("d2"), col("id")).as("ids"))
      val b = keys.repartition(32).groupBy("g")
        .agg(graft.functions.MinPairW.topW(w)(col("d2"), col("id")).as("ids"))
      assert(a.exceptAll(expect).count() == 0 && expect.exceptAll(a).count() == 0,
        s"MinPairW($w) disagrees with the window form")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"MinPairW($w) result depends on partitioning — merge is broken")
    }
  }

  test("BeamTopW: dedup-by-id top-w pairs equal window-over-distinct, at any partitioning") {
    import spark.implicits._
    // the one-exchange beam cut (r18): duplicates of an id ALWAYS
    // carry the identical d2 (the beamParts contract — d2 is a pure
    // function of the vectors), so the fixture derives d2 from
    // (g, id) and plants each id ~2-3 times per group
    val rows = for (g <- 0 to 5; i <- 0 to 60) yield {
      val id = (i % 25).toLong
      (g.toLong, id, ((id * 37 + g * 11) % 13) * 100 + id)
    }
    val df = rows.toDF("g", "id", "d2")
    for (w <- Seq(2, 8, 16); parts <- Seq(1, 7, 32)) {
      val a = df.repartition(parts).groupBy("g")
        .agg(graft.functions.BeamTopW.topPairs(w)(
          col("d2").cast("double"), col("id")).as("ps"))
        .select(col("g"), explode(col("ps")).as("p"))
        .select(col("g"), col("p._2").as("id"), col("p._1").cast("bigint").as("d2"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("d2"), col("id"))
      val b = df.distinct()
        .withColumn("rn", row_number().over(win)).filter(col("rn") <= w)
        .select("g", "id", "d2")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"BeamTopW($w) at $parts partitions disagrees with window-over-distinct")
    }
    // best-first array order, the duplicate never occupies two slots
    val dup = Seq((1L, 10L, 5.0), (1L, 10L, 5.0), (1L, 20L, 5.0), (1L, 30L, 7.0))
      .toDF("g", "id", "d2")
    val got = dup.groupBy("g")
      .agg(graft.functions.BeamTopW.topPairs(2)(col("d2"), col("id")).as("ps"))
      .selectExpr("transform(ps, p -> p._2) AS ids")
      .collect()(0).getSeq[Long](0)
    assert(got == Seq(10L, 20L), s"duplicate occupied a beam slot: $got")
    // NaN and signed-zero keys compare like Spark's sort (NaN = NaN
    // above every number, -0.0 = 0.0): the cut equals the window form
    // at every width, including widths that reach a group's NaN keys,
    // and NaN pairs sit last in the best-first array
    val nanRows = for (g <- 0 to 3; i <- 0 to 30) yield {
      val id = (i % 12).toLong
      val d2 = id % 4 match {
        case 0 => Double.NaN
        case 1 => -0.0
        case 2 => 0.0
        case _ => ((id * 7 + g) % 5).toDouble
      }
      (g.toLong, id, d2)
    }
    val nanDf = nanRows.toDF("g", "id", "d2")
    for (w <- Seq(2, 8, 16); parts <- Seq(1, 7)) {
      val a = nanDf.repartition(parts).groupBy("g")
        .agg(graft.functions.BeamTopW.topPairs(w)(col("d2"), col("id")).as("ps"))
        .select(col("g"), explode(col("ps")).as("p"))
        .select(col("g"), col("p._2").as("id"), col("p._1").as("d2"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("d2"), col("id"))
      val b = nanDf.distinct()
        .withColumn("rn", row_number().over(win)).filter(col("rn") <= w)
        .select("g", "id", "d2")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"BeamTopW($w) at $parts partitions disagrees with the window form on NaN keys")
    }
    val nanTail = nanDf.filter(col("g") === 0).groupBy("g")
      .agg(graft.functions.BeamTopW.topPairs(16)(col("d2"), col("id")).as("ps"))
      .selectExpr("transform(ps, p -> p._2) AS ids")
      .collect()(0).getSeq[Long](0)
    assert(nanTail.takeRight(3) == Seq(0L, 4L, 8L), s"NaN keys not last: $nanTail")
  }

  test("knnEdgesOver: a NaN embedding's NaN cosines rank where the window form puts them") {
    // vec 5 carries a NaN component: every cosine against it is NaN,
    // which `cos DESC` ranks FIRST (NaN sorts above every number) —
    // the oracle's order. vec 7 is the zero vector: its cosines are
    // NULL (0/0 — DuckDB's x/0 is NULL too), which `cos DESC` ranks
    // LAST, except against vec 5, where the norm product is NaN. One
    // centroid puts every vector in one cell, so the window form is
    // the plain all-pairs rank.
    val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 60)
      .select(col("vec_id"), when(col("vec_id") === 5L,
          transform(col("embedding"), (x, i) => when(i === 0, lit(Float.NaN)).otherwise(x)))
        .when(col("vec_id") === 7L, transform(col("embedding"), x => x * 0))
        .otherwise(col("embedding")).as("embedding"))
    val cent = e.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val got = graft.ops.Vectors.knnEdgesOver(e, cent)
    val dot = graft.functions.DotProduct.dotp _
    val n = e.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a_id")).orderBy(col("cos").desc, col("b_id"))
    val nn = col("an") * col("bn")
    val want = n.select(col("vec_id").as("a_id"), col("embedding").as("ae"), col("nrm").as("an"))
      .join(n.select(col("vec_id").as("b_id"), col("embedding").as("be"), col("nrm").as("bn")),
        col("b_id") =!= col("a_id"))
      .select(col("a_id"), col("b_id"),
        when(nn =!= 0, dot(col("ae"), col("be")) / nn).as("cos"))
      .withColumn("rnk", row_number().over(win).cast("bigint"))
      .filter(col("rnk") <= 3)
      .select("a_id", "b_id", "rnk", "cos")
    assert(got.filter(col("b_id") === 5L && col("rnk") === 1L).count() == 59,
      "the NaN-cosine neighbor must rank first for every other vector")
    assert(got.filter(col("b_id") === 7L).count() == 0,
      "a zero-norm neighbor's NULL cosines must rank last")
    val zeroRow = got.filter(col("a_id") === 7L).orderBy("rnk")
      .select("b_id", "cos").collect().map(r => (r.getLong(0), r.isNullAt(1))).toSeq
    assert(zeroRow == Seq((5L, false), (0L, true), (1L, true)),
      s"the zero vector's own edges: NaN first, then NULLs by id: $zeroRow")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "knnEdgesOver disagrees with the window form on NaN and zero-norm embeddings")
    // the cosine scorer + cut of the float-vector search keys: a zero
    // query's candidates all score NULL (kept, by c_id), and a zero
    // candidate ranks below every finite cosine
    val b = n.filter(col("vec_id") =!= 5L)
    val top = graft.ops.Vectors.cosineTopK(
      b.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"),
        col("embedding").as("qe"), col("nrm").as("qn")),
      b.select(col("vec_id").as("c_id"), col("embedding").as("ce"), col("nrm").as("cn")), 3)
    val zq = top.filter(col("q_id") === 7L).select("c_id", "cosine").collect()
      .map(r => (r.getLong(0), r.isNullAt(1))).toSeq
    assert(zq == Seq((0L, true), (1L, true), (2L, true)), s"zero query: $zq")
    assert(top.filter(col("q_id") =!= 7L && (col("c_id") === 7L || col("cosine").isNull))
      .count() == 0, "a zero-norm candidate must never outrank a finite cosine")
    assert(top.count() == 27)
  }

  test("topK: ties break on the id column, short groups keep every row, rnk is a bigint 1..n") {
    import spark.implicits._
    val df = Seq((1L, 10L, 5.0), (1L, 30L, 5.0), (1L, 20L, 5.0), (1L, 40L, 1.0),
      (2L, 7L, 3.0), (2L, 6L, 9.0)).toDF("q_id", "c_id", "d2")
    val out = graft.ops.Vectors.topK(df, col("q_id"), 3, col("d2"), col("c_id"))
    assert(out.schema("rnk").dataType == org.apache.spark.sql.types.LongType)
    val rows = out.select("q_id", "c_id", "rnk").as[(Long, Long, Long)].collect().sorted.toSeq
    assert(rows == Seq((1L, 10L, 2L), (1L, 20L, 3L), (1L, 40L, 1L), (2L, 6L, 2L), (2L, 7L, 1L)),
      s"top-3 cut wrong: $rows")
  }

  test("top-w routing provisions nprobe: >= min(nprobe, cells) candidate cells, even on skinny supers") {
    import spark.implicits._
    // ADVERSARIAL geometry — the failure mode the r16 review caught
    // for nprobe = 2, one level up (VERDICT r16 finding 1): build a
    // centroid frame whose stride-picked super-seeds include TWO
    // adjacent OUTLIERS whose supers keep only themselves as
    // children. Fixture-average supers carry ~sqrt(cells) children,
    // so nprobe = 4-8 used to work by accident; here a query at the
    // outliers sees its two nearest supers hold ONE cell each — top-2
    // routing covers exactly 2 cells and an nprobe = 4 serve silently
    // under-probes, while w = nprobe routing provably covers the plan.
    // 16 centroids, stride 4 -> super-seeds at cid 0,4,8,12. cids 8
    // and 12 sit far away together; everything else clusters near the
    // origin-side seeds, so supers 8 and 12 are both 1-child.
    def vec(base: Long): Seq[Long] = Seq.tabulate(64)(i => base + i)
    val cent = (0L until 16L).map {
      case 8L  => (8L, vec(99000L))
      case 12L => (12L, vec(100000L))
      case c   => (c, vec(c * 10L))
    }.toDF("cid", "ce")
    val (scent, chl) = graft.ops.Vectors.superLayer(cent)
    val kidCounts = chl.groupBy("sid").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kidCounts(8L) == 1L && kidCounts(12L) == 1L,
      s"fixture lost its point: supers 8 and 12 should be 1-child, got $kidCounts")
    val q = Seq((0L, vec(100000L)), (1L, vec(5L))).toDF("vec_id", "qe")
    for (nprobe <- Seq(2, 4, 8)) {
      val ranked = graft.ops.Vectors.coarseRanked(q, cent, nprobe,
        layer = Some((scent, chl)))
      val perItem = ranked.groupBy("vec_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = math.min(nprobe.toLong, 16L)
      assert(perItem.values.forall(_ == want),
        s"nprobe=$nprobe: probe plans $perItem do not cover $want cells")
      // probed cells are distinct (child sets partition the centroids)
      assert(ranked.select("vec_id", "cid").distinct().count() ==
        ranked.count(), s"nprobe=$nprobe: duplicate probe cells")
    }
    // and on the real fixture geometry the same theorem holds
    val e0 = graft.ops.Vectors.microVecs(spark, sfDir).filter(col("vec_id") < 50)
    val fixCent = graft.ops.Vectors.scaledLloydCent(
      graft.ops.Vectors.microVecs(spark, sfDir))
    val cells = fixCent.count()
    for (nprobe <- Seq(4, 8)) {
      val covered = graft.ops.Vectors.coarseRanked(e0, fixCent, nprobe)
        .groupBy("vec_id").count()
        .filter(col("count") < math.min(nprobe.toLong, cells)).count()
      assert(covered == 0,
        s"nprobe=$nprobe: a fixture item's probe plan fell short of $nprobe cells")
    }
  }

  test("IVF×PQ geometry scales with the corpus: 4× the vectors → 16 cells on disk, serve still exact") {
    // the corpus-scaled quantizer is the point of the persisted index:
    // at 4× this fixture (2,000 vectors) cells = max(8, ceil(n/125)) =
    // 16, the index must hold 16 cell directories, and the persisted
    // serve must STILL hash-equal the in-memory composition at that
    // non-default geometry (the oracle mirrors the same formula)
    val tmp = graft.ops.purgeOnExit(
      java.nio.file.Files.createTempDirectory("ivfgeom").toString)
    val e = Tables.embeddings(spark, sfDir)
    // 4 rotated copies with dense re-keyed ids (SCALE.md's octave
    // recipe): vec_id*4+r stays dense 0-based, embeddings distinct
    e.select(col("vec_id"), col("embedding"),
        explode(expr("sequence(0, 3)")).as("r"))
      .select((col("vec_id") * 4 + col("r")).as("vec_id"),
        expr("transform(sequence(0, 63), i -> embedding[int((i + r) % 64)])")
          .as("embedding"),
        col("r").cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val n = spark.read.parquet(s"$tmp/embeddings.parquet").count()
    assert(n == 2000)
    val idx = graft.ops.Vectors.stagedIvfPqResIndex(spark, tmp)
    val dirs = cellDirs(s"$idx/lists").size
    val used = graft.ops.Vectors.coarseRanked(
        graft.ops.Vectors.microVecs(spark, tmp),
        spark.read.parquet(s"$idx/centroids"), nprobe = 1)
      .filter(col("rn") === 1).select("cid").distinct().count()
    assert(spark.read.parquet(s"$idx/centroids").count() == 16,
      "4× corpus should train 16 coarse centroids")
    assert(dirs == used && dirs > 8,
      s"expected >8 non-empty cell directories at the 16-cell geometry, found $dirs (assignment uses $used)")
    val fromIndex = SparkEntry.queries("sim_ivf_pq_residual_indexed")(spark, tmp)
    val inMemory = SparkEntry.queries("sim_ivf_pq_residual")(spark, tmp)
    assert(fromIndex.exceptAll(inMemory).count() == 0 &&
      inMemory.exceptAll(fromIndex).count() == 0,
      "persisted serve diverged from the in-memory chain at the scaled geometry")
  }

  test("streamed two-level encode parity at the 1,024-cell geometry (r16 gate)") {
    // the r15 parity spec pinned streamed-vs-batch bit-equality at the
    // 8-cell fixture; the two-level router's acceptance gate is the
    // SAME equality at a geometry where the hierarchy actually routes
    // (1,024 cells → 32 super-centroids × ~32 children): 256
    // rotations of the 500-vector fixture → 128,000 vectors, cells =
    // ceil(n/125) = 1,024. Stream encode is pure Long arithmetic over
    // the broadcast two-level tables; batch is the exact-double
    // DataFrame chain — set-equality of the (c_id, cell, m, code)
    // rows proves the routes and codes are bit-identical.
    val tmp = graft.ops.purgeOnExit(
      java.nio.file.Files.createTempDirectory("ivf1024").toString)
    val e = Tables.embeddings(spark, sfDir)
    e.select(col("vec_id"), col("embedding"),
        explode(expr("sequence(0, 255)")).as("r"))
      .select((col("vec_id") * 256 + col("r")).as("vec_id"),
        expr("transform(sequence(0, 63), i -> embedding[int((i + r) % 64)])")
          .as("embedding"),
        pmod(col("vec_id") * 256 + col("r"), lit(10)).cast("int").as("label"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val n = spark.read.parquet(s"$tmp/embeddings.parquet").count()
    assert(n == 128000L)
    val batchIdx = graft.ops.Vectors.stagedIvfPqResIndex(spark, tmp)
    val cells = spark.read.parquet(s"$batchIdx/centroids").count()
    assert(cells >= 1024, s"expected >= 1024 cells, trained $cells")
    val sups = spark.read.parquet(s"$batchIdx/supers").count()
    assert(sups == 32, s"expected ceil(sqrt(1024)) = 32 supers, got $sups")
    // srcDir points at the multi-part corpus directly (stageEmb's
    // single-file copy is for the fixture layout)
    val streamed = graft.ops.Vectors.streamIvfPqIngest(spark, tmp,
      srcDir = Some(s"$tmp/embeddings.parquet"))
    val sl = spark.read.parquet(streamed)
      .select(col("c_id"), col("cell").cast("bigint").as("cell"), col("m"), col("code"))
    val bl = spark.read.parquet(s"$batchIdx/lists")
      .select(col("c_id"), col("cell").cast("bigint").as("cell"), col("m"), col("code"))
    assert(sl.exceptAll(bl).count() == 0 && bl.exceptAll(sl).count() == 0,
      "streamed two-level codes diverged from the batch encode at 1,024 cells")
  }

  test("sim_ivf_pq_residual: identical candidate scan to sim_ivf_pq, well-formed top-3") {
    val out = run("sim_ivf_pq_residual").cache()
    val perQ = out.groupBy("q_id").agg(count(lit(1)).as("n"), max(col("rnk")).as("maxr"))
    assert(perQ.filter(col("n") =!= 3 || col("maxr") =!= 3).count() == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("rnk"))
    assert(out.withColumn("prev", lag(col("approx_d2"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") > col("approx_d2"))
      .count() == 0)
    // by_residual=true changes ONLY the ranking, never the scan: the
    // coarse assignment and nprobe are shared with sim_ivf_pq, so the
    // candidate (q, c) set out of the ADC aggregate must be identical
    val flat = graft.ops.Vectors.ivfPqFlatAdist(spark, sfDir)
      .select("q_id", "c_id")
    val res = graft.ops.Vectors.ivfPqResidualAdist(spark, sfDir)
      .select("q_id", "c_id")
    assert(flat.exceptAll(res).count() == 0 && res.exceptAll(flat).count() == 0,
      "residual encoding changed the probed candidate set")
  }

  test("sim_ivf_pq_rerank: top-3 drawn from the probed shortlist, exact distances, tiers agree") {
    val out = run("sim_ivf_pq_rerank").cache()
    val perQ = out.groupBy("q_id").agg(count(lit(1)).as("n"), max(col("rnk")).as("maxr"))
    assert(perQ.filter(col("n") =!= 3 || col("maxr") =!= 3).count() == 0)
    // every re-ranked hit must come out of the IVF-probed candidate
    // set (the re-rank never widens the scan — it only re-orders the
    // ADC shortlist drawn from the probed cells)
    val cand = graft.ops.Vectors.ivfPqFlatAdist(spark, sfDir)
      .select("q_id", "c_id")
    assert(out.select("q_id", "c_id").exceptAll(cand).count() == 0,
      "re-ranked results escaped the probed candidate set")
    // exact_d2 is the TRUE integer micro-unit L2 (spot-check against
    // a direct recompute over the embedding table)
    val e0 = graft.ops.Vectors.microVecs(spark, sfDir)
    val truth = out.join(e0.select(col("vec_id").as("q_id"), col("qe").as("qq")), Seq("q_id"))
      .join(e0.select(col("vec_id").as("c_id"), col("qe").as("cq")), Seq("c_id"))
      .select(col("q_id"), col("c_id"), col("exact_d2"),
        aggregate(zip_with(col("qq"), col("cq"), (x, y) => (x - y) * (x - y)),
          lit(0d), (acc, v) => acc + v).cast("bigint").as("true_d2"))
    assert(truth.filter(col("exact_d2") =!= col("true_d2")).count() == 0,
      "re-ranked exact_d2 diverged from the direct recompute")
  }

  test("sim_ivf_pq_residual_indexed: equals the in-memory residual chain, serve scan partition-prunes") {
    val fromIndex = run("sim_ivf_pq_residual_indexed")
    val inMemory = run("sim_ivf_pq_residual")
    assert(fromIndex.exceptAll(inMemory).count() == 0 &&
      inMemory.exceptAll(fromIndex).count() == 0,
      "persisted residual-index serve diverged from the in-memory composition")
    // residual codes partition by cell exactly like flat codes: the
    // lists scan must carry the probed cells as PARTITION filters
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"expected a cell partition filter in:\n${plan.take(3000)}")
    // single query → exactly its nprobe=2 cells in the IN list, out
    // of the non-empty-cell directories the index holds on disk
    val idx = graft.ops.Vectors.stagedIvfPqResIndex(spark, sfDir)
    val one = graft.ops.Vectors.ivfPqResIndexedServe(spark, sfDir, qBound = 1L)
    assert(one.count() > 0)
    val onePlan = one.queryExecution.executedPlan.toString
    val cellsInFilter = "cell#\\d+L? IN \\(([^)]*)\\)".r
      .findFirstMatchIn(onePlan).map(_.group(1).split(",").length)
    assert(cellsInFilter.contains(2),
      s"single-query residual serve should probe exactly 2 cells; plan:\n${onePlan.take(3000)}")
    val e0 = graft.ops.Vectors.microVecs(spark, sfDir)
    val usedCells = graft.ops.Vectors.coarseRanked(e0,
        spark.read.parquet(s"$idx/centroids"), nprobe = 1)
      .filter(col("rn") === 1).select("cid").distinct().count()
    val totalCells = cellDirs(s"$idx/lists").size
    assert(totalCells == usedCells,
      s"residual index holds $totalCells cell directories, assignment uses $usedCells")
  }

  test("stream_ivfpq_index: streamed appends equal the batch lists; 2-batch replay composes") {
    // 1. the oracled key: streamed-index serve == the in-memory chain
    val served = run("stream_ivfpq_index")
    val inMemory = run("sim_ivf_pq_residual")
    assert(served.exceptAll(inMemory).count() == 0 &&
      inMemory.exceptAll(served).count() == 0,
      "stream-maintained index serve diverged from the in-memory composition")
    // 2. the streamed lists are BIT-EQUAL to the batch-built lists:
    // the map-side literal-quantizer encode is the same integer
    // arithmetic as residualEncode, so the rows must match as a set
    val batchIdx = graft.ops.Vectors.stagedIvfPqResIndex(spark, sfDir)
    val streamed = graft.ops.Vectors.streamIvfPqIngest(spark, sfDir)
    val sl = spark.read.parquet(streamed)
      .select(col("c_id"), col("cell").cast("int").as("cell"), col("m"), col("code"))
    val bl = spark.read.parquet(s"$batchIdx/lists")
      .select(col("c_id"), col("cell").cast("int").as("cell"), col("m"), col("code"))
    assert(sl.exceptAll(bl).count() == 0 && bl.exceptAll(sl).count() == 0,
      "streamed list rows diverged from the batch residualEncode")
    // 3. incremental appends compose: the corpus split into two files,
    // replayed one file per micro-batch through ONE checkpoint — the
    // second batch appends to the first's cell directories and the
    // final index is complete (nothing rebuilds, nothing is lost)
    val tmp = graft.ops.purgeOnExit(
      java.nio.file.Files.createTempDirectory("ivfpq_two").toString)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // the file source lists FILES, not subdirs: stage each half's part
    // file flat under src/ (the stageEmb move)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/src"))
    Seq(0, 1).foreach { h =>
      e.filter(col("vec_id") % 2 === h).coalesce(1).write.parquet(s"$tmp/w$h")
      val part = new java.io.File(s"$tmp/w$h").listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$tmp/src/half$h.parquet"))
    }
    val twoBatch = graft.ops.Vectors.streamIvfPqIngest(spark, sfDir,
      srcDir = Some(s"$tmp/src"), fixedPath = Some(s"$tmp/idx"),
      maxFilesPerTrigger = Some(1))
    val tl = spark.read.parquet(twoBatch)
      .select(col("c_id"), col("cell").cast("int").as("cell"), col("m"), col("code"))
    assert(tl.exceptAll(bl).count() == 0 && bl.exceptAll(tl).count() == 0,
      "two-micro-batch replay did not converge to the batch lists")
    // 4. compaction: one file per cell, rows byte-identical, serve
    // unchanged, and re-compaction a no-op until new commits land
    val comp = graft.ops.Vectors.compactStreamedLists(spark, twoBatch)
    val cl = spark.read.parquet(s"$comp/lists")
      .select(col("c_id"), col("cell").cast("int").as("cell"), col("m"), col("code"))
    assert(cl.exceptAll(tl).count() == 0 && tl.exceptAll(cl).count() == 0,
      "compaction changed the list rows")
    val compCells = cellDirs(s"$comp/lists")
    assert(compCells.nonEmpty && compCells.forall(
      _.listFiles().count(_.getName.endsWith(".parquet")) == 1),
      "compacted index should hold exactly one file per cell")
    val servedCompact = graft.ops.Vectors.resIndexServe(spark, sfDir,
      s"$comp/lists", batchIdx)
    assert(servedCompact.exceptAll(inMemory).count() == 0 &&
      inMemory.exceptAll(servedCompact).count() == 0,
      "serve from the compacted lists diverged")
    val marker = java.nio.file.Paths.get(s"$comp/_built")
    val t0 = java.nio.file.Files.getLastModifiedTime(marker)
    assert(graft.ops.Vectors.compactStreamedLists(spark, twoBatch) == comp)
    assert(java.nio.file.Files.getLastModifiedTime(marker) == t0,
      "re-compaction rebuilt despite no new commits")
  }

  test("sim_ivf_pq_deletes: tombstoned ids never surface; compaction deletes them physically") {
    val out = run("sim_ivf_pq_deletes").cache()
    // 1. no tombstoned id in any shortlist; every query still gets 3
    assert(out.filter(col("c_id") % 17 === 3).count() == 0,
      "a deleted vector surfaced in the results")
    assert(out.groupBy("q_id").count().filter(col("count") =!= 3).count() == 0)
    // 2. vs the undeleted serve: queries whose undeleted top-3 held a
    // tombstoned id got a REPLACEMENT (the anti-join is below the
    // top-k — post-filtering would have returned < 3 for them)
    val undeleted = run("sim_ivf_pq_residual_indexed")
    assert(undeleted.filter(col("c_id") % 17 === 3).count() > 0,
      "fixture regression: no tombstoned id in any undeleted top-3 — " +
        "the key would not be exercising replacement")
    // 3. physical deletion at compaction: compact the STREAMED index
    // with the tombstone set, serve WITHOUT any anti-join, get the
    // same answer; the compacted lists hold no tombstoned rows
    val ts = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") % 17 === 3).select(col("vec_id").as("c_id"))
    val streamed = graft.ops.Vectors.streamIvfPqIngest(spark, sfDir)
    val comp = graft.ops.Vectors.compactStreamedLists(spark, streamed, Some(ts))
    assert(spark.read.parquet(s"$comp/lists")
      .filter(col("c_id") % 17 === 3).count() == 0,
      "compaction left tombstoned rows in the lists")
    val servedPhysical = graft.ops.Vectors.resIndexServe(spark, sfDir,
      s"$comp/lists", graft.ops.Vectors.stagedIvfPqResIndex(spark, sfDir))
    assert(servedPhysical.exceptAll(out).count() == 0 &&
      out.exceptAll(servedPhysical).count() == 0,
      "physical-delete serve diverged from the logical tombstone serve")
  }

  test("sim_ivf_pq_serve: one-call serve — tombstone-free, exact order, tier containment") {
    val out = run("sim_ivf_pq_serve").cache()
    assert(out.filter(col("c_id") % 17 === 3).count() == 0,
      "a deleted vector surfaced in the composed serve")
    assert(out.groupBy("q_id").count().filter(col("count") =!= 3).count() == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("rnk"))
    assert(out.withColumn("pd", lag(col("exact_d2"), 1).over(w))
      .filter(col("pd").isNotNull && col("pd") > col("exact_d2")).count() == 0,
      "exact distances not sorted by rank")
    // tier containment: every served hit must come from the
    // tombstoned ADC top-32 shortlist (the composition's contract)
    val ts = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") % 17 === 3).select(col("vec_id").as("c_id"))
    val idx = graft.ops.Vectors.stagedIvfPqResIndex(spark, sfDir)
    val wSl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("ad"), col("c_id"))
    val sl = graft.ops.Vectors.resIndexAdist(spark, sfDir,
        s"$idx/lists", idx, tombstones = Some(ts))
      .withColumn("srn", row_number().over(wSl)).filter(col("srn") <= 32)
      .select("q_id", "c_id")
    assert(out.select("q_id", "c_id").exceptAll(sl).count() == 0,
      "a served hit is not in the probed+tombstoned shortlist")
  }

  test("sim_range_search: self-scaling radius — NN always in, every hit within 105% of it") {
    val out = run("sim_range_search").cache()
    // every query emits at least its exact nearest neighbor
    assert(out.select("q_id").distinct().count() == 20)
    // recompute the full exact distance frame independently, derive
    // each query's true-NN radius, and pin the result to EXACT set
    // equality: everything inside the radius, nothing outside it
    val e0 = graft.ops.Vectors.microVecs(spark, sfDir)
    def sqd(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0d), (acc, v) => acc + v).cast("bigint")
    val q = e0.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("qe").as("qq"))
    val full = e0.select(col("vec_id").as("c_id"), col("qe").as("ce"))
      .join(broadcast(q), col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"), sqd(col("qq"), col("ce")).as("d2"))
      .cache()
    val r2 = full.groupBy("q_id").agg(expr("(min(d2) * 105) div 100").as("r2"))
    val should = full.join(r2, Seq("q_id"))
      .filter(col("d2") <= col("r2")).select("q_id", "c_id", "d2")
    assert(should.exceptAll(out.select("q_id", "c_id", "d2")).count() == 0,
      "a vector inside the radius is missing from the result")
    assert(out.select("q_id", "c_id", "d2").exceptAll(should).count() == 0,
      "the result contains a vector outside the radius")
  }

  test("sim_mmr: 3 distinct picks led by the exact NN; diversity demotes a planted near-dup") {
    val out = run("sim_mmr").cache()
    val perQ = out.groupBy("q_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("c_id")).as("nd"),
        max(col("pick")).as("maxp"))
    assert(perQ.filter(col("n") =!= 3 || col("nd") =!= 3 || col("maxp") =!= 3).count() == 0)
    // pick 1 is pure relevance — the exact nearest neighbor, so its
    // d2q is the minimum across the query's picked set
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
    assert(out.withColumn("mn", min(col("d2q")).over(w))
      .filter(col("pick") === 1 && col("d2q") =!= col("mn")).count() == 0)
    // planted corpus through the operator's REAL chain: c2 is a
    // near-duplicate of the top hit c1 (d2=1 apart) and nearer to the
    // query than the diverse c3 — plain NN order is (c1, c2, c3), MMR
    // must demote the near-dup: (c1, c3, c2)
    def vec(parts: (Int, Double)*): Seq[Double] =
      Seq.tabulate(64)(i => parts.toMap.getOrElse(i, 0d))
    val e0 = spark.createDataFrame(Seq(
      (0L, vec()),
      (100L, vec(0 -> 10d)),
      (101L, vec(0 -> 11d)),
      (102L, vec(1 -> 12d))
    )).toDF("vec_id", "qe")
    val picks = graft.ops.Vectors.mmrPicks(e0, qBound = 1L)
      .orderBy("pick").select("c_id").collect().map(_.getLong(0)).toSeq
    assert(picks == Seq(100L, 102L, 101L),
      s"expected MMR order (100, 102, 101), got $picks")
  }

  test("mine_hard_negatives: 3 per anchor, labels always differ, d2 nondecreasing") {
    val out = run("mine_hard_negatives").cache()
    val perA = out.groupBy("a_id").agg(count(lit(1)).as("n"), max(col("rnk")).as("maxr"))
    assert(perA.filter(col("n") =!= 3 || col("maxr") =!= 3).count() == 0)
    assert(out.filter(col("neg_label") === col("a_label")).count() == 0,
      "a mined negative shares its anchor's label")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a_id")).orderBy(col("rnk"))
    assert(out.withColumn("prev", lag(col("d2"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") > col("d2")).count() == 0,
      "mined negatives not ordered by distance")
  }

  test("sim_ivf_filtered: every hit satisfies the predicate; post-filtering would under-return") {
    val out = run("sim_ivf_filtered").cache()
    // 1. the filter holds on every emitted row: label = (query's + 1) % 10
    val lab = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("q_id"), col("label").as("q_label"))
    assert(out.join(lab, Seq("q_id"))
      .filter(col("c_label") =!= (col("q_label") + 1) % 10).count() == 0,
      "a result violates the attribute filter")
    // 2. dense ranks from 1, d2 nondecreasing within a query
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("rnk"))
    val chk = out.withColumn("prnk", lag(col("rnk"), 1).over(w))
      .withColumn("pd2", lag(col("d2"), 1).over(w))
    assert(chk.filter(
      (col("prnk").isNull && col("rnk") =!= 1) ||
      (col("prnk").isNotNull && (col("rnk") =!= col("prnk") + 1 || col("d2") < col("pd2")))
    ).count() == 0, "ranks not dense or d2 not sorted")
    // 3. the production motivation, concrete: POST-filtering the
    // unfiltered in-cell top-3 (take top-3 ignoring the predicate,
    // then filter) returns strictly fewer matching rows than the
    // pre-filtered operator — on this fixture the unfiltered top-3 is
    // almost never all-matching, so a post-filter serve under-returns
    val unfiltered = run("sim_ivf").select(col("q_id"), col("c_id"))
    val post = unfiltered
      .join(spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").as("c_id"), col("label").as("c_label")), Seq("c_id"))
      .join(lab, Seq("q_id"))
      .filter(col("c_label") === (col("q_label") + 1) % 10)
    assert(post.count() < out.count(),
      s"post-filter (${post.count()}) should under-return vs pre-filter (${out.count()})")
  }

  test("sim_ivf_filtered_probe8: wide dial provisions 8 cells per query; filter and rank contracts hold") {
    val out = run("sim_ivf_filtered_probe8").cache()
    // the same filter/rank contracts as the nprobe = 2 key
    val lab = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("q_id"), col("label").as("q_label"))
    assert(out.join(lab, Seq("q_id"))
      .filter(col("c_label") =!= (col("q_label") + 1) % 10).count() == 0,
      "a result violates the attribute filter")
    assert(out.groupBy("q_id").agg(max(col("rnk")).as("m"))
      .filter(col("m") > 3).count() == 0, "rank overflow")
    // THEOREM (the r17 provisioning guarantee, restated through THIS
    // key's exact dial): the query frame's probe plan covers
    // min(8, cells) distinct cells per query — the split route's
    // w = 8 query-side routing, not a fixture accident
    val e0 = graft.ops.Vectors.microVecs(spark, sfDir)
    val cent = spark.read.parquet(
      s"${graft.ops.Vectors.stagedIvfQuant(spark, sfDir)}/centroids")
    val cells = cent.count()
    val want = math.min(8L, cells)
    val short = graft.ops.Vectors.coarseRanked(
        e0.filter(col("vec_id") < 20), cent, nprobe = 8)
      .groupBy("vec_id").count().filter(col("count") < want).count()
    assert(short == 0, s"a query's probe plan fell short of $want cells")
    // FIXTURE-PINNED (not a theorem — the w = 8 ranking pools MORE
    // supers' children, so its top-2 cells can in principle differ
    // from the w = 2 route's): on this geometry the 8-cell probe set
    // contains the 2-cell one, so widening never worsens any rank's
    // exact distance — the serving rule's "probing more only helps"
    // reading, checked pointwise
    val p2 = run("sim_ivf_filtered")
      .select(col("q_id"), col("rnk"), col("d2").as("d2_2"))
    val worse = out.select(col("q_id"), col("rnk"), col("d2"))
      .join(p2, Seq("q_id", "rnk"))
      .filter(col("d2") > col("d2_2")).count()
    assert(worse == 0, "widening the probe set worsened a rank's distance")
    out.unpersist()
  }

  test("knn_graph_scaled: corpus-sized cells, per-node top-3, per-cell size tracks the target") {
    val out = run("knn_graph_scaled").cache()
    // per-node edge structure identical to knn_graph's contract
    val perNode = out.groupBy("a_id").agg(count(lit(1)).as("n"), max(col("rnk")).as("maxr"))
    assert(perNode.filter(col("n") > 3 || col("maxr") > 3).count() == 0)
    // mutual flags are symmetric facts about the edge set
    val edges = out.select(col("a_id"), col("b_id"), col("mutual")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getBoolean(2))).toMap
    edges.foreach { case ((a, b), m) =>
      assert(m == edges.contains((b, a)), s"mutual flag wrong for ($a,$b)")
    }
    // the sizing dial: a non-default per-cell target reshapes the index
    // through the operator's own centroid rule — 500 vectors at
    // perCell=31 ⇒ cells = ⌈500/31⌉ = 17, stride = 29
    val e = Tables.embeddings(spark, sfDir)
    val cents = graft.ops.Vectors.scaledKnnCentroids(e, 31L).collect()
    assert(cents.length == 17, s"expected 17 cells, got ${cents.length}")
    val scaled = graft.ops.Vectors.knnEdgesScaled(spark, sfDir, 31L)
    val cellsUsed = scaled.select(col("a_id")).distinct().count()
    assert(cellsUsed > 0 && scaled.groupBy("a_id").count()
      .filter(col("count") > 3).count() == 0)
  }

  test("embed_outliers: the 1.2×-mean frontier matches an exact recompute, prunes a thin tail") {
    val rows = run("embed_outliers").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(1)).foreach { case (cell, rs) =>
      val s = rs.map(r => BigInt(r.getLong(2))).sum
      val n = BigInt(rs.length)
      rs.foreach { r =>
        assert(r.getLong(3) == rs.length, s"cell $cell: n_cell mismatch")
        val expect = 5 * BigInt(r.getLong(2)) * n > 6 * s
        assert(r.getBoolean(4) == expect, s"cell $cell vec ${r.getLong(0)}: flag")
      }
    }
    // concentration in 64-d: the frontier prunes some vectors, never many
    val flagged = rows.count(_.getBoolean(4))
    assert(flagged > 0 && flagged * 20 < rows.length, s"$flagged of ${rows.length}")
  }

  test("stagedIvfCent: the staged sqrt-n quantizer equals a fresh Lloyd training (train once, serve many)") {
    // r18 (VERDICT r17 #2): sim_ivf_sqrtn used to retrain its Lloyd
    // quantizer every call; it now reads the (corpus, perCell)-keyed
    // staged artifact. Parity pin: the staged centroids and routing
    // tables are BIT-EQUAL to a fresh in-memory training through the
    // same seed layer — staging changed the cost, not the math.
    val e0 = graft.ops.Vectors.microVecs(spark, sfDir)
    val n = e0.count()
    val perCell = math.max(1L,
      n / (4L * math.ceil(math.sqrt(n.toDouble)).toLong))
    val dir = graft.ops.Vectors.stagedIvfCent(spark, sfDir, perCell)
    val staged = spark.read.parquet(s"$dir/centroids")
    val fresh = graft.ops.Vectors.scaledLloydCent(e0, perCell,
      seedLay = Some(graft.ops.Vectors.seedLayer(spark, sfDir, perCell)))
    assert(staged.exceptAll(fresh).count() == 0 &&
      fresh.exceptAll(staged).count() == 0,
      "staged sqrt-n centroids diverged from a fresh Lloyd training")
    val cells = math.max(8L, (n + perCell - 1) / perCell)
    assert(staged.count() == cells, s"expected $cells cells at the sqrt-n geometry")
    // the routing tables partition the centroids (every cell has
    // exactly one super)
    val chl = spark.read.parquet(s"$dir/children")
    assert(chl.count() == cells && chl.select("cid").distinct().count() == cells)
  }

  test("sim_ivf_filtered_perq: per-query widths follow the serving-rule integer formula; sparse flips to exact") {
    val out = run("sim_ivf_filtered_perq").cache()
    // recompute the width formula from the key's OWN fixture rule —
    // the spec is the second witness (the DuckDB oracle is the first)
    val n = Tables.embeddings(spark, sfDir).count()
    val perCell = math.max(1L,
      n / (4L * math.ceil(math.sqrt(n.toDouble)).toLong))
    val cells = math.max(8L, (n + perCell - 1) / perCell)
    val cellsQ = math.max(1L, cells / 4)
    def labelOf(id: Long): Long =
      if (id % 2 == 0) (id / 2) % 5
      else if (id % 4 == 1) 5 + (id / 4) % 20
      else 25 + (id / 4) % 499
    def wantedOf(l: Long): Long =
      if (l < 5) (l + 1) % 5
      else if (l < 25) 5 + ((l - 4) % 20)
      else 25 + ((l - 24) % 499)
    val hist = (0L until n).map(labelOf).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val got = out.select(col("q_id"), col("route"), col("w"))
      .distinct().collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got.nonEmpty)
    got.foreach { case (qid, (route, w)) =>
      val cnt = hist.getOrElse(wantedOf(labelOf(qid)), 0L)
      assert(cnt > 0, s"q$qid emitted rows for an absent label")
      val wExp = math.min(
        math.max((9 * n + cnt * perCell - 1) / (cnt * perCell), 2L), cellsQ)
      val routeExp = if (cnt * wExp * perCell >= 3 * n) "ivf" else "exact"
      assert(w == wExp && route == routeExp,
        s"q$qid: got ($route, $w), formula says ($routeExp, $wExp) at cnt=$cnt")
    }
    // the batch genuinely mixes: both routes present, and the IVF
    // widths exceed the fixed nprobe=2 dial (the point of the key)
    val routes = got.values.map(_._1).toSet
    assert(routes == Set("ivf", "exact"), s"routes present: $routes")
    assert(got.values.collect { case ("ivf", w) => w }.max > 2,
      "no query dialed a wide width — fixture lost its point")
    // per-query output is a well-formed top-k: <= 3 rows, dense ranks
    val perQ = out.groupBy("q_id").agg(count(lit(1)).as("nr"),
      max(col("rnk")).as("maxr"), min(col("rnk")).as("minr"))
    assert(perQ.filter(col("nr") > 3 || col("minr") =!= 1 ||
      col("maxr") =!= col("nr")).count() == 0)
  }

  test("filteredPerQueryW: single-route batches (all-ivf, all-exact) keep both sides' empty paths legal") {
    // the mixed key proves the blend; this pins the two degenerate
    // batches — an all-dense batch leaves the EXACT side empty (the
    // wantedEx.isEmpty scan guard) and an all-sparse batch leaves the
    // IVF side empty (wMax falls back to the 2 default with no ivf
    // queries to route) — both plans must stay legal and well-formed
    val e0 = graft.ops.Vectors.microVecs(spark, sfDir)
    val n = e0.count()
    val cent = graft.ops.Vectors.scaledLloydCent(e0)
    val lay = graft.ops.Vectors.superLayer(cent)
    def serve(labExpr: String, wanted: Column => Column) =
      graft.ops.Vectors.filteredPerQueryW(
        e0.select(col("vec_id"), expr(labExpr).as("label"), col("qe")),
        n, 125L, cent, lay, wanted).cache()
    // all-dense: 5 labels over the whole corpus (cnt = n/5) → every
    // query fills k from 2 probed cells → all IVF
    val dense = serve("CAST(vec_id % 5 AS INT)",
      q => ((q + 1) % 5).cast("int"))
    assert(dense.count() > 0 &&
      dense.filter(col("route") =!= "ivf").count() == 0)
    // all-sparse: 499 labels over the whole corpus (cnt ≈ 1) → even
    // the clamped width cannot fill k → all EXACT
    val sparse = serve("CAST(25 + vec_id % 499 AS INT)",
      q => (lit(25) + (q - 24) % 499).cast("int"))
    assert(sparse.count() > 0 &&
      sparse.filter(col("route") =!= "exact").count() == 0)
    // both outputs stay well-formed top-k (≤ 3 rows, dense ranks)
    for (out <- Seq(dense, sparse)) {
      val perQ = out.groupBy("q_id").agg(count(lit(1)).as("nr"),
        max(col("rnk")).as("maxr"), min(col("rnk")).as("minr"))
      assert(perQ.filter(col("nr") > 3 || col("minr") =!= 1 ||
        col("maxr") =!= col("nr")).count() == 0)
    }
  }

  test("readLists is Hadoop-FS routed: file:-URI shard pruning, two probed cells sharing one shard") {
    import spark.implicits._
    // r18 gate for VERDICT r17 #1: the shard-subtree and
    // _spark_metadata probes must answer through Hadoop FileSystem —
    // a java.io.File probe is false for ANY schemed URI, so this
    // `file:`-prefixed fixture would silently fall back to the
    // O(cells) root listing. Geometry per VERDICT item 6: cells 5 and
    // 261 collide in shard 5 (261 % 256) — the >256-cell regime the
    // sf0.1 fixtures never reach — plus decoy cells 7 and 300 in
    // other shards.
    val tmp = graft.ops.purgeOnExit(
      java.nio.file.Files.createTempDirectory("shardfs").toString)
    Seq((1L, 0, 11, 5L), (2L, 0, 12, 5L), (3L, 0, 13, 261L),
        (4L, 0, 14, 7L), (5L, 0, 15, 300L))
      .toDF("c_id", "m", "code", "cell")
      .withColumn("shard", pmod(col("cell"), lit(256L)).cast("int"))
      .repartition(col("cell"))
      .write.partitionBy("shard", "cell").parquet(s"$tmp/lists")
    val uri = s"file:$tmp/lists"
    val out = graft.ops.Vectors.readLists(spark, uri, Array(5L, 261L))
    // both probed cells' rows come back — including the pair sharing
    // shard 5 — and nothing from the decoy cells
    assert(out.select("c_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // the scan's FILE LISTING was anchored to the probed shard
    // subtrees only: every file the relation can even enumerate lives
    // under shard=5, and there are exactly as many as probed cells
    // (one compacted file per cell) — listing is O(nprobe·cells/256),
    // not O(cells)
    val files = out.inputFiles
    assert(files.length == 2 && files.forall(_.contains("/shard=5/")),
      s"expected 2 files under shard=5, got:\n${files.mkString("\n")}")
    // and the literal cell IN (…) predicate still partition-prunes
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"expected a cell partition filter in:\n${plan.take(3000)}")
    // stream-sink layout branch, same schemed URI: a _spark_metadata
    // marker must route the read through the ROOT (the commit-log
    // view), which the Hadoop probe must SEE through `file:`. The
    // fixture's log is EMPTY, so the exactly-once view hides the
    // written-but-uncommitted file — 0 rows proves both that the
    // stream branch was taken (the batch fallback would return the
    // row) and that uncommitted data stays invisible
    Seq((9L, 0, 21, 5L)).toDF("c_id", "m", "code", "cell")
      .repartition(col("cell"))
      .write.partitionBy("cell").parquet(s"$tmp/slists")
    graft.ops.hfsMkdirs(spark, s"$tmp/slists/_spark_metadata")
    val sout = graft.ops.Vectors.readLists(spark, s"file:$tmp/slists", Array(5L))
    assert(sout.count() == 0,
      "a schemed _spark_metadata marker went unseen: the batch branch served uncommitted files")
  }

  test("readBucketed: shard-subtree listing, decoy buckets unread, literal bucket partition filter") {
    import spark.implicits._
    // the point-fetch sibling of the readLists gate: buckets 5 and
    // 261 collide in shard 5 (261 % 256), decoys 7 and 300 live in
    // other shards — the fetch must return exactly the probed
    // buckets' rows while LISTING only their shard subtrees
    val tmp = graft.ops.purgeOnExit(
      java.nio.file.Files.createTempDirectory("bucketfs").toString)
    Seq((1L, 5L), (2L, 5L), (3L, 261L), (4L, 7L), (5L, 300L))
      .toDF("c_id", "bucket")
      .withColumn("shard", pmod(col("bucket"), lit(256L)).cast("int"))
      .repartition(col("bucket"))
      .write.partitionBy("shard", "bucket").parquet(s"$tmp/vectors")
    val out = graft.ops.Vectors.readBucketed(spark, s"file:$tmp/vectors",
      "c_id BIGINT, shard INT, bucket BIGINT", Array(5L, 261L))
    assert(out.select("c_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    val files = out.inputFiles
    assert(files.length == 2 && files.forall(_.contains("/shard=5/")),
      s"expected 2 files under shard=5, got:\n${files.mkString("\n")}")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"),
      s"expected a bucket partition filter in:\n${plan.take(3000)}")
  }

  test("beamParts: each round reads only the frontier's edge buckets and the expansion's vector buckets") {
    // the r19 scale gate (VERDICT r18 #1): a 16×-rotated corpus
    // (n = 8,000 → bMod = 64 buckets) makes the pruning visible — a
    // single-query beam-4 serve may touch at most 4 edge buckets
    // (frontier ≤ beamW ids) and at most 32 vector buckets
    // (≤ beamW·degree expansion ids) per round, out of 64 on disk.
    val tmp = graft.ops.purgeOnExit(
      java.nio.file.Files.createTempDirectory("beamprune").toString)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"),
        explode(expr("sequence(0, 15)")).as("r"))
      .select((col("vec_id") * 16 + col("r")).as("vec_id"),
        expr("transform(sequence(0, 63), i -> embedding[int((i + r) % 64)])")
          .as("embedding"),
        col("r").cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    assert(graft.ops.Vectors.vecBucketMod(spark, tmp) == 64L)
    val reads = scala.collection.mutable.Buffer[(org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame)]()
    val beamDf = graft.ops.Vectors.beamParts(spark, tmp, qBound = 1L,
      beamW = 4, rounds = 2, reads = Some(reads))
    val out = beamDf.cache()
    assert(out.count() > 0 && out.filter(col("c_id") === col("q_id")).count() == 0)
    // returned d2 is still the exact integer L2 through the pruned fetch
    val e0 = graft.ops.Vectors.microVecs(spark, tmp)
    val truth = out
      .join(e0.select(col("vec_id").as("q_id"), col("qe").as("qq")), Seq("q_id"))
      .join(e0.select(col("vec_id").as("c_id"), col("qe").as("cq")), Seq("c_id"))
      .select(col("d2"),
        aggregate(zip_with(col("qq"), col("cq"), (x, y) => (x - y) * (x - y)),
          lit(0d), (acc, v) => acc + v).cast("bigint").as("true_d2"))
    assert(truth.filter(col("d2") =!= col("true_d2")).count() == 0)
    assert(reads.size == 2)
    reads.zipWithIndex.foreach { case ((edgesR, vecsR), i) =>
      val ef = edgesR.inputFiles
      assert(ef.length <= 4 && ef.nonEmpty && ef.forall(_.contains("/bucket=")),
        s"round $i edge read should touch <= beamW=4 bucket files, got ${ef.length}:\n${ef.mkString("\n")}")
      val vf = vecsR.inputFiles
      assert(vf.length <= 32 && vf.nonEmpty && vf.forall(_.contains("/bucket=")),
        s"round $i vector read should touch <= beamW*degree=32 bucket files, got ${vf.length}")
      assert("PartitionFilters: \\[[^\\]]*bucket".r
        .findFirstIn(edgesR.queryExecution.executedPlan.toString).isDefined,
        s"round $i edge read lost its bucket partition filter")
    }
  }

  test("readBucketed: non-empty fetch with no staged shard dir fails loudly, empty fetch degrades to 0 rows") {
    // r19 advice: the root-path fallback exists for the EMPTY fetch
    // set only — a non-empty set whose probed shard dirs are all
    // missing is a broken artifact, and silently reading the root
    // restores exactly the full-corpus scan the bucket layout
    // eliminates
    val (vdir, bMod) = graft.ops.Vectors.stagedVecBuckets(spark, sfDir)
    // empty fetch: 0 rows, no error
    assert(graft.ops.Vectors.readBucketed(spark, s"$vdir/vectors",
      graft.ops.Vectors.bucketVecSchema, Array.empty[Long]).count() == 0)
    // non-empty fetch against a dir with no shard subtree: loud
    val bogus = java.nio.file.Files.createTempDirectory("nobuckets").toFile
    val ex = try intercept[IllegalArgumentException] {
      graft.ops.Vectors.readBucketed(spark, bogus.toString,
        graft.ops.Vectors.bucketVecSchema, Array(0L, 1L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(bogus)
    assert(ex.getMessage.contains("staged shard dirs missing"))
    // r21 (r20 advice): a PARTIALLY present layout — some wanted shard
    // dirs exist, some don't — is a torn artifact, not a smaller
    // answer: it must fail naming the holes, never silently drop the
    // missing buckets' rows
    import spark.implicits._
    val torn = graft.ops.purgeOnExit(
      java.nio.file.Files.createTempDirectory("tornshard").toString)
    Seq((1L, 5L)).toDF("c_id", "bucket")
      .withColumn("shard", pmod(col("bucket"), lit(256L)).cast("int"))
      .write.partitionBy("shard", "bucket").parquet(s"$torn/vectors")
    val ex2 = intercept[IllegalArgumentException] {
      graft.ops.Vectors.readBucketed(spark, s"file:$torn/vectors",
        "c_id BIGINT, shard INT, bucket BIGINT", Array(5L, 6L))
    }
    assert(ex2.getMessage.contains("staged shard dirs missing") &&
      ex2.getMessage.contains("shard=6"))
    // sanity: a real fetch still reads its buckets
    assert(graft.ops.Vectors.readBucketed(spark, s"$vdir/vectors",
      graft.ops.Vectors.bucketVecSchema, Array(0L)).count() > 0)
  }

  test("beamParts: retired rounds unpersist — live beam state is bounded per serve") {
    // the r18-advice leak: localCheckpointed round state accumulated
    // for the session. The persisted-RDD leaves now retire two
    // materializations back; a full serve must leave at most the
    // final state, the previous round's state, and the last
    // expansion frame persisted (3 RDDs), not 2·rounds.
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    val beamDf = graft.ops.Vectors.beamParts(spark, sfDir,
      qBound = 5L, beamW = 4, rounds = 4)
    assert(beamDf.count() > 0)
    val after = sc.getPersistentRDDs.keySet
    val leaked = (after -- before).size
    assert(leaked <= 3,
      s"a 4-round serve left $leaked persisted RDDs (expected <= 3: " +
        "final + previous beam state + last expansion frame)")
  }

  test("filtered beamParts: shared scored leaves release — live state is the navigation bound plus the accumulator") {
    // r20: the filtered serve persists each round's scored frame (two
    // consumers: navigation cut + accumulator cut) and the superseded
    // accumulator rounds; ALL of them unpersist after the one
    // end-of-loop materialization, so a filtered serve's live state is
    // the unfiltered bound (3) plus only the returned accumulator
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    val acc = graft.ops.Vectors.beamParts(spark, sfDir,
      qBound = 5L, beamW = 4, rounds = 4, labelMod = Some(4), tomb = true)
    assert(acc.count() > 0)
    val after = sc.getPersistentRDDs.keySet
    val leaked = (after -- before).size
    assert(leaked <= 4,
      s"a 4-round filtered serve left $leaked persisted RDDs (expected " +
        "<= 4: the navigation bound + the returned accumulator; shared " +
        "scored leaves and superseded accumulator rounds must release)")
  }

  test("exactRerank: the float fetch reads only the shortlist's buckets") {
    import spark.implicits._
    // shortlist ids chosen ≡ 0 (mod bMod=16 at this fixture), same
    // residue as query 0 — the whole refine stage must read ONE
    // bucket file out of 16 on disk
    val adist = Seq((0L, 16L, 5.0), (0L, 32L, 1.0), (0L, 48L, 9.0))
      .toDF("q_id", "c_id", "ad")
    val out = graft.ops.Vectors.exactRerank(spark, sfDir, adist)
    // inputFiles BEFORE cache(): a cached frame optimizes to
    // InMemoryRelation, which reports no files
    val files = out.inputFiles
    assert(files.length == 1 && files.head.contains("/bucket=0"),
      s"expected exactly the bucket=0 file, got:\n${files.mkString("\n")}")
    assert("PartitionFilters: \\[[^\\]]*bucket".r
      .findFirstIn(out.queryExecution.executedPlan.toString).isDefined,
      "float fetch lost its bucket partition filter")
    // exact order among the 3-candidate shortlist, recomputed directly
    val e0 = graft.ops.Vectors.microVecs(spark, sfDir)
      .filter(col("vec_id").isin(0L, 16L, 32L, 48L))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def d2(a: Long, b: Long): Long =
      e0(a).zip(e0(b)).foldLeft(0d) { case (acc, (x, y)) =>
        acc + (x - y).toDouble * (x - y).toDouble }.toLong
    val expected = Seq(16L, 32L, 48L).map(c => (c, d2(0L, c)))
      .sortBy { case (c, dd) => (dd, c) }.zipWithIndex
      .map { case ((c, dd), i) => (0L, c, (i + 1).toLong, dd) }
    assert(out.orderBy("rnk").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq == expected)
  }

  test("sim_ivf_pq_serve_perq: widths follow the rule, labels filter both routes, cell plan partition-prunes") {
    val out = run("sim_ivf_pq_serve_perq").cache()
    assert(out.count() > 0)
    // every hit on either route carries the query's WANTED label —
    // the label is vec_id-derived, so recompute both sides here
    def lbl(c: String) = expr(
      s"CAST(CASE WHEN $c % 2 = 0 THEN ($c div 2) % 5 " +
        s"WHEN $c % 4 = 1 THEN 5 + ($c div 4) % 20 " +
        s"ELSE 25 + ($c div 4) % 499 END AS INT)")
    val wanted = {
      val q = lbl("q_id")
      (when(q < 5, (q + 1) % 5)
        .when(q < 25, lit(5) + (q - 4) % 20)
        .otherwise(lit(25) + (q - 24) % 499)).cast("int")
    }
    assert(out.filter(lbl("c_id") =!= wanted).count() == 0,
      "a served hit does not carry its query's wanted label")
    // tombstoned ids never surface on EITHER route (the capstone's
    // delete tier at per-query widths)
    assert(out.filter(col("c_id") % 17 === 3).count() == 0,
      "a deleted vector surfaced in the per-query-width serve")
    // d2 is the exact integer L2 on BOTH routes (the ivf route
    // re-ranks its ADC shortlist through the bucket-staged fetch)
    val e0 = graft.ops.Vectors.microVecs(spark, sfDir)
      .withColumn("label", lbl("vec_id"))
    val truthPQ = out
      .join(e0.select(col("vec_id").as("q_id"), col("qe").as("qq")), Seq("q_id"))
      .join(e0.select(col("vec_id").as("c_id"), col("qe").as("cq")), Seq("c_id"))
      .select(col("d2"),
        aggregate(zip_with(col("qq"), col("cq"), (x, y) => (x - y) * (x - y)),
          lit(0d), (acc, v) => acc + v).cast("bigint").as("td2"))
    assert(truthPQ.filter(col("d2") =!= col("td2")).count() == 0,
      "served d2 diverged from the direct exact recompute")
    // the width column obeys the clamp on every ivf-route row
    val idx = graft.ops.Vectors.stagedIvfPqResIndex(spark, sfDir)
    val cellsQ = math.max(1L,
      spark.read.parquet(s"$idx/centroids").count() / 4L)
    assert(out.filter(col("route") === "ivf")
      .filter(col("w") < 2 || col("w") > cellsQ).count() == 0)
    // exact-route answers equal the brute-force filtered tombstoned
    // top-3
    val exq = out.filter(col("route") === "exact")
      .select("q_id").distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("td2"), col("c_id"))
    val brute = e0.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("qe").as("qq"))
      .join(exq, Seq("q_id"))
      .withColumn("wl", wanted)
      .join(e0.filter(col("vec_id") % 17 =!= 3)
        .select(col("vec_id").as("c_id"), col("label").as("cl"),
          col("qe").as("cq")), col("cl") === col("wl") && col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        aggregate(zip_with(col("qq"), col("cq"), (x, y) => (x - y) * (x - y)),
          lit(0d), (acc, v) => acc + v).cast("bigint").as("td2"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("c_id"), col("rnk"), col("td2").as("d2"))
    val got = out.filter(col("route") === "exact")
      .select("q_id", "c_id", "rnk", "d2")
    assert(got.exceptAll(brute).count() == 0 && brute.exceptAll(got).count() == 0,
      "exact-route results diverge from the brute-force filtered top-3")
    // the refine fetch in the OUTPUT plan reads the bucket-staged
    // vector copy through a literal bucket partition filter. (The
    // probed-cell lists scan executes at serve CONSTRUCTION — the
    // shortlist collect — through the same readLists path whose cell
    // PartitionFilters the residual-indexed spec and the readLists
    // fixture spec pin.)
    assert("PartitionFilters: \\[[^\\]]*bucket".r
      .findFirstIn(out.queryExecution.executedPlan.toString).isDefined,
      "per-query-width serve lost its bucket partition filter")
  }

  test("sim_graph_beam_filtered: predicate below the cut beats post-filtering; tombstones unreachable; exact distances") {
    val out = run("sim_graph_beam_filtered").cache()
    // every hit matches its query's wanted label, no tombstone ever
    // surfaces, and the accumulator fills top-3 on the fixture
    assert(out.filter(pmod(col("c_id"), lit(10L)) =!=
      pmod(pmod(col("q_id"), lit(10L)) + 1, lit(10L))).count() == 0,
      "a hit does not match its query's wanted label")
    assert(out.filter(col("c_id") % 17 === 3).count() == 0,
      "a deleted vector surfaced on the graph route")
    assert(out.groupBy("q_id").count().filter(col("count") =!= 3).count() == 0,
      "the filtered accumulator under-filled a query")
    // d2 is the exact integer squared L2 — recompute from the corpus
    val e0 = graft.ops.Vectors.microVecs(spark, sfDir)
    val chk = out
      .join(e0.select(col("vec_id").as("q_id"), col("qe").as("qq")), Seq("q_id"))
      .join(e0.select(col("vec_id").as("c_id"), col("qe").as("cq")), Seq("c_id"))
      .withColumn("td2", aggregate(zip_with(col("qq"), col("cq"),
        (x, y) => (x - y) * (x - y)), lit(0d), (a, v) => a + v).cast("bigint"))
    assert(chk.filter(col("td2") =!= col("d2")).count() == 0,
      "a served distance is not the exact integer L2")
    // THE ARGUMENT: post-filtering the final NAVIGATION beam (the
    // same serve minus the accumulator) under-returns — beamW=8
    // members at ~1/10 selectivity cannot be expected to hold 3
    // matching survivors, which is why the predicate must sit below
    // the cut (the filtered-IVF spec's argument, now on the graph
    // route)
    val nav = graft.ops.Vectors.beamParts(spark, sfDir, tomb = true)
    val filled = nav
      .filter(pmod(col("c_id"), lit(10L)) ===
        pmod(pmod(col("q_id"), lit(10L)) + 1, lit(10L)))
      .groupBy("q_id").count().filter(col("count") >= 3).count()
    assert(filled < 20,
      "post-filtering the navigation beam filled every query — the fixture no longer demonstrates under-return")
    // the below-the-cut serve returns AT LEAST as many matching hits
    // per query as the post-filter, for every query
    assert(filled <= 20 && out.count() == 60)
  }

  test("perq batch dependence (r20): solo serves compared against the mixed batch; batch recall never below solo") {
    import graft.ops.Vectors
    // the accepted divergence (r18 advice, docs softened r19): a
    // query's probe set is its top-w SUPERS OF THE BATCH-MAX routing,
    // which need not equal routing that query alone — so results may
    // depend on batch-mates. This spec DEMONSTRATES the relationship
    // instead of asserting blind equality: serve the oracled 20-query
    // mixed batch, then each ivf-route query SOLO through the same
    // chain, and pin that the batch form's recall against exact
    // filtered ground truth is >= the solo form's.
    val batch = Vectors.perQueryWServe(spark, sfDir).cache()
    val ivfQ = batch.filter(col("route") === "ivf")
      .select("q_id").distinct().collect().map(_.getLong(0)).sorted
    assert(ivfQ.nonEmpty, "fixture lost its ivf-route queries")
    val solo = ivfQ.map { qid =>
      Vectors.perQueryWServe(spark, sfDir,
        qPred = Some(col("vec_id") === qid))
    }.reduce(_ unionByName _).cache()
    // exact ground truth: brute-force filtered top-3 per query over
    // the tier-label universe (no index, no routing)
    val e0 = Vectors.microVecs(spark, sfDir)
      .select(col("vec_id"), Vectors.tierLabelCol("vec_id").as("label"),
        col("qe"))
    val q = e0.filter(col("vec_id").isin(ivfQ.map(java.lang.Long.valueOf): _*))
      .select(col("vec_id").as("q_id"),
        Vectors.tierWantedCol(col("label")).as("wl"), col("qe").as("qq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2"), col("c_id"))
    val truth = e0.select(col("vec_id").as("c_id"), col("label").as("cl"),
        col("qe").as("cq"))
      .join(broadcast(q), col("cl") === col("wl") && col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        aggregate(zip_with(col("qq"), col("cq"), (x, y) => (x - y) * (x - y)),
          lit(0d), (a, v) => a + v).cast("bigint").as("d2"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select("q_id", "c_id").cache()
    def hits(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("q_id").isin(ivfQ.map(java.lang.Long.valueOf): _*))
        .select("q_id", "c_id").intersect(truth).count()
    val (hb, hs) = (hits(batch), hits(solo))
    val diverged = batch.filter(col("route") === "ivf")
      .select("q_id", "c_id", "rnk")
      .exceptAll(solo.filter(col("route") === "ivf")
        .select("q_id", "c_id", "rnk")).count()
    info(s"batch hits $hb, solo hits $hs, diverged rows $diverged of ${ivfQ.length * 3}")
    assert(hb >= hs,
      s"batch recall ($hb) fell below solo recall ($hs) — the wMax trim argument no longer holds on this fixture")
    // solo and batch must agree on ROUTE and WIDTH for every query:
    // the width formula reads only (cnt, n, perCell, cells) — batch
    // dependence lives in the probe SET, never in the serving rule
    val bw = batch.filter(col("q_id").isin(ivfQ.map(java.lang.Long.valueOf): _*))
      .select(col("q_id"), col("route"), col("w")).distinct()
    val sw = solo.select(col("q_id"), col("route"), col("w")).distinct()
    assert(bw.intersect(sw).count() == bw.count() && sw.count() == bw.count(),
      "a query's width/route changed between solo and batch serving")
  }

  test("refine tail parameterized (r20): k=5 widens, k=3 is its prefix at equal shortlist, wider shortlist never worse, perq serves k=5") {
    import graft.ops.Vectors
    val idx = Vectors.stagedIvfPqResIndex(spark, sfDir)
    // exactRerank construction is an action (its doc'd contract), so
    // each call pays one ADC run — three runs at sf0.001, cheap
    def adist() = Vectors.resIndexAdist(spark, sfDir, s"$idx/lists", idx)
    val d3 = Vectors.exactRerank(spark, sfDir, adist()).cache()
    val d5 = Vectors.exactRerank(spark, sfDir, adist(),
      shortlist = 32, k = 5).cache()
    // the tail actually widens past the old hard-wired 3
    assert(d5.groupBy("q_id").count().filter(col("count") =!= 5).count() == 0,
      "k=5 did not return 5 hits per query")
    // containment: at the SAME shortlist the k=3 default is exactly
    // the rnk<=3 prefix of k=5 (same candidate set, same order)
    val p3 = d5.filter(col("rnk") <= 3)
    assert(d3.exceptAll(p3).count() == 0 && p3.exceptAll(d3).count() == 0,
      "k=3 output is not the rnk<=3 prefix of k=5 at equal shortlist")
    // a WIDER ADC shortlist can only improve (or tie) each rank's
    // exact distance — the candidate set only grows
    val w48 = Vectors.exactRerank(spark, sfDir, adist(),
      shortlist = 48, k = 5)
    val j = d5.select(col("q_id"), col("rnk"), col("exact_d2").as("d32"))
      .join(w48.select(col("q_id"), col("rnk"), col("exact_d2").as("d48")),
        Seq("q_id", "rnk"))
    assert(j.filter(col("d48") > col("d32")).count() == 0,
      "widening the ADC shortlist worsened an exact rank")
    // the capstone threads (shortlist, k): at k=5 both routes widen
    // and the tombstone tier still holds on every route
    val perq = Vectors.resIndexServePerQ(spark, sfDir, k = 5).cache()
    assert(perq.filter(col("c_id") % 17 === 3).count() == 0,
      "a deleted vector surfaced at k=5")
    assert(perq.filter(col("rnk") > 5).count() == 0)
    assert(perq.groupBy("q_id", "route").agg(max(col("rnk")).as("m"))
      .filter(col("m") > 3).count() > 0,
      "no query actually used the widened tail")
  }
}
