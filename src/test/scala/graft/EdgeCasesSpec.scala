package graft

import org.apache.spark.sql.functions._
import graft.engine.Engine
import graft.functions.DotProduct.dotp

/** Degenerate inputs: the paths a production pipeline hits on day one. */
class EdgeCasesSpec extends SparkSpec {

  test("LSH bucket is invariant under positive scaling (sign of dot unchanged)") {
    import graft.ops.Vectors
    val e = Tables.embeddings(spark, sfDir)
    // scaling by 4 flips no hyperplane signs → bucket(x) == bucket(4x)
    val scaled = e.withColumn("embedding",
      expr("transform(embedding, x -> x * CAST(4.0 AS FLOAT))"))
    def buckets(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), Vectors.bucket(col("embedding")).as("bkt"))
    assert(buckets(e).exceptAll(buckets(scaled)).count() == 0)
    assert(buckets(scaled).exceptAll(buckets(e)).count() == 0)
  }

  test("engine PUT of an empty frame keeps schema and appends nothing") {
    val e = new Engine(spark.newSession())
    val nation = Tables.nation(e.spark, sfDir)
    e.put("t", nation.limit(0))
    assert(e.count("t") == 0)
    assert(e.get("t").schema == nation.schema)
    e.put("t", nation)
    assert(e.count("t") == 25)
  }

  test("exchange with SQL command on an engine with data routes like GET") {
    val e = new Engine(spark.newSession())
    e.put("nation", Tables.nation(e.spark, sfDir))
    val viaExchange = e.exchange("SELECT count(*) AS c FROM nation", e.spark.emptyDataFrame)
    assert(viaExchange.collect()(0).getLong(0) == 25)
  }

  test("dot product of empty arrays is 0; of orthogonal unit vectors is 0") {
    val df = spark.sql(
      """SELECT CAST(array() AS ARRAY<DOUBLE>) AS e,
        |       array(1.0D, 0.0D) AS ux, array(0.0D, 1.0D) AS uy""".stripMargin)
    val row = df.select(dotp(col("e"), col("e")).as("ee"),
      dotp(col("ux"), col("uy")).as("xy")).collect()(0)
    assert(row.getDouble(0) == 0.0 && row.getDouble(1) == 0.0)
  }

  test("spread passes a pre-split input through without a shuffle") {
    import graft.ops.spread
    // already split ≥ parallelism/2 → must NOT insert an Exchange
    val wide = spark.range(0, 1000, 1,
      spark.sparkContext.defaultParallelism).toDF("i")
    val plan = spread(wide).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    // a single-partition scan still gets rebalanced
    val narrow = spark.range(0, 1000, 1, 1).toDF("i")
    assert(spread(narrow).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("transfer of an empty table verifies zero rows") {
    val (a, b) = Engine.pair(spark)
    a.put("empty", Tables.nation(a.spark, sfDir).limit(0))
    assert(a.transferTable(b, "empty") == 0)
  }

  // ---- adversarial corpora for the round-6 pipeline ops ----------------
  // Each test stages a crafted documents.parquet and points the REAL
  // operator (SparkEntry.queries) at it — same code path as the oracle
  // gate, degenerate data.

  /** Stage (doc_id, source, text) rows as a documents.parquet dir under
    * a per-run scratch dir, purged at exit with the staged artifacts
    * built over it.
    */
  private def stageDocs(name: String, rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = graft.ops.scratchRunDir(spark, s"edge_$name")
    rows.toDF("doc_id", "source", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"), col("source"),
        length(col("text")).cast("bigint").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def words(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  test("pack_sequences: a doc longer than the 256-token budget packs alone") {
    // giant first doc (600 tokens), then two small docs: the giant must
    // own its pack (overflow bounded by one doc), later docs land in
    // the pack of their running offset — pack ids may skip, never fork
    val dir = stageDocs("packgiant", Seq(
      (0L, "g", words("a", 600)), (1L, "g", words("b", 50)), (2L, "g", words("c", 50))))
    val packs = SparkEntry.queries("pack_sequences")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // deterministic layout: giant at offset 0 → pack 0, alone; docs 1-2
    // start at offsets 600/650 → both pack 2 (pack 1 is skipped — the
    // giant consumed its budget slots)
    assert(packs.toSeq == Seq(("g", 0L, 1L, 600L, 0L, 0L), ("g", 2L, 2L, 100L, 1L, 2L)))
    // conservation: every token of the corpus is in exactly one pack
    assert(packs.map(_._4).sum == 700L)
  }

  test("doc_rarity: single-token and single-doc corpora stay at the uniform floor") {
    // five docs of one identical token: rarity is exactly the 1000
    // uniform floor, nothing is rare, nothing is flagged
    val five = stageDocs("rarityuni", (0L to 4L).map(i => (i, "s", "x")))
    val r5 = SparkEntry.queries("doc_rarity")(spark, five).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(r5.toSeq == (0L to 4L).map(i => (i, 1L, 1000L, 0L, false)))
    // one doc, one token: the token's corpus count is 1 ≤ 2 → rare by
    // definition, and 1 rare of 1 token trips the low-quality flag —
    // the degenerate corpus must flag, not divide by zero
    val one = stageDocs("rarityone", Seq((0L, "s", "x")))
    val r1 = SparkEntry.queries("doc_rarity")(spark, one).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(r1.toSeq == Seq((0L, 1L, 1000L, 1L, true)))
  }

  test("domain_filter: a corpus of only blocklisted domains filters to zero rows") {
    // doc_id % 7 drives the synthetic domain: src0-1/src3-2/src7-5 are
    // the blocked trio — every crafted doc maps onto one of them
    val dir = stageDocs("blockedonly",
      Seq(1L, 8L, 15L).map(id => (id, "src0", words("a", 12))) ++
        Seq(2L, 9L, 16L).map(id => (id, "src3", words("b", 12))) ++
        Seq(5L, 12L, 19L).map(id => (id, "src7", words("c", 12))))
    val out = SparkEntry.queries("domain_filter")(spark, dir).collect()
    assert(out.isEmpty, s"blocklisted-only corpus must filter to nothing, got ${out.length}")
  }

  test("sample_fixed: exact n, deterministic across reruns, whole corpus when smaller than n") {
    val a = SparkEntry.queries("sample_fixed")(spark, sfDir).collect().map(_.getLong(0)).toSeq
    val b = SparkEntry.queries("sample_fixed")(spark, sfDir).collect().map(_.getLong(0)).toSeq
    assert(a.length == 100 && a == b, "exactly 100 docs, byte-stable across reruns")
    val tiny = stageDocs("fixedsample",
      (0L to 4L).map(i => (i, "s", words(s"t$i", 12))))
    val small = SparkEntry.queries("sample_fixed")(spark, tiny).collect().map(_.getLong(0)).toSeq
    assert(small == Seq(0L, 1L, 2L, 3L, 4L), "corpus below the budget passes through whole")
  }

  test("span_dedup: shared paragraph flags both docs, short docs emit no row") {
    // docs 0/1 share an 8-token "paragraph" embedded in distinct
    // remainders — exactly the partial overlap whole-doc Jaccard
    // misses; doc 2 is disjoint; doc 3 is under the window width
    val para = words("shared", 8)
    val big = words("big", 24) // majority-shared pair: 17 of 19 windows repeat
    val dir = stageDocs("spandedup", Seq(
      (0L, "s", words("a", 20) + " " + para),
      (1L, "s", para + " " + words("b", 20)),
      (2L, "s", words("c", 30)),
      (3L, "s", words("d", 5)),
      (4L, "s", big + " " + words("e", 2)),
      (5L, "s", big + " " + words("f", 2))))
    val out = SparkEntry.queries("span_dedup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4))).toSeq
    assert(out.map(_._1) == Seq(0L, 1L, 2L, 4L, 5L), "sub-window doc must emit no row")
    val byId = out.map(t => t._1 -> t).toMap
    // only the exact shared window position repeats in each doc
    assert(byId(0L)._3 == 1L && byId(1L)._3 == 1L, s"got $out")
    assert(byId(2L)._3 == 0L && !byId(2L)._4)
    // 21 windows each (28 tokens), 1 repeated -> not flagged at 50%
    assert(!byId(0L)._4 && !byId(1L)._4)
    // 26-token docs sharing a 24-token prefix: 17/19 windows repeated
    // -> flagged (exercises the true side of the strict > 500000 cut)
    assert(byId(4L)._3 == 17L && byId(4L)._4, s"got ${byId(4L)}")
    assert(byId(5L)._4)
  }

  test("span_dedup_apply: shared paragraph survives only in the canonical doc") {
    // a 12-token paragraph planted in docs 0, 1, 2 (distinct flanks):
    // its 5 interior 8-gram windows repeat across all three, canonical
    // occurrence = min (doc_id, pos) = doc 0. The edit must strip
    // exactly the 12 paragraph tokens from docs 1 and 2 (flanks
    // intact, straddling grams are doc-unique so nothing else is
    // touched), keep doc 0 byte-identical, and leave doc 3 alone.
    val para = words("para", 12)
    val dir = stageDocs("spanapply", Seq(
      (0L, "s", words("a", 10) + " " + para),
      (1L, "s", words("b", 10) + " " + para + " " + words("c", 10)),
      (2L, "s", para + " " + words("d", 10)),
      (3L, "s", words("e", 30))))
    val out = SparkEntry.queries("span_dedup_apply")(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getString(6)))).toMap
    assert(out(0L) == ((0L, 0L, 0L, words("a", 10) + " " + para)),
      s"canonical doc edited: $out")
    assert(out(1L) == ((12L, 1L, 12L, words("b", 10) + " " + words("c", 10))),
      s"got ${out(1L)}")
    assert(out(2L) == ((12L, 1L, 12L, words("d", 10))), s"got ${out(2L)}")
    assert(out(3L) == ((0L, 0L, 0L, words("e", 30))))
    // the residual proof: re-windowing the cleaned corpus finds no
    // cross-doc repeated gram at all
    val res = SparkEntry.queries("span_dedup_residual")(spark, dir).collect()(0)
    assert(res.getAs[Long]("n_rep_before") == 5L, s"got $res")
    assert(res.getAs[Long]("n_rep_after") == 0L, s"cleaned corpus must be repeat-free: $res")
    assert(res.getAs[Long]("tokens_before") - res.getAs[Long]("tokens_after") == 24L)
  }

  test("span_dedup_apply: a 200-token shared passage strips as ONE maximal span, not 193 fragments") {
    // the round-14 maximal-span merge (Lee §3): the non-canonical
    // occurrence's 193 dropped windows merge into a single reported
    // span covering exactly the 200 passage tokens
    val para = words("long", 200)
    val dir = stageDocs("spanmax", Seq(
      (0L, "s", words("a", 10) + " " + para + " " + words("b", 10)),
      (1L, "s", words("c", 12) + " " + para + " " + words("d", 8))))
    val out = SparkEntry.queries("span_dedup_apply")(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getString(6)))).toMap
    assert(out(0L) == ((0L, 0L, 0L,
      words("a", 10) + " " + para + " " + words("b", 10))),
      "canonical doc must be untouched")
    assert(out(1L) == ((200L, 1L, 200L, words("c", 12) + " " + words("d", 8))),
      s"expected one 200-token span stripped, got ${out(1L)}")
    // and two separated shared paragraphs in one doc stay TWO spans
    // (the merge joins adjacent windows, it must not bridge a kept gap)
    val p1 = words("p", 20); val p2 = words("q", 20)
    val dir2 = stageDocs("spantwo", Seq(
      (0L, "s", p1 + " " + words("x", 9) + " " + p2),
      (1L, "s", p1 + " " + words("y", 9) + " " + p2)))
    val out2 = SparkEntry.queries("span_dedup_apply")(spark, dir2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getString(6)))).toMap
    assert(out2(1L) == ((40L, 2L, 20L, words("y", 9))), s"got ${out2(1L)}")
  }

  test("gopher_filter: each rule fires on its planted doc, in precedence order") {
    val stop2 = "the a" // two stopwords
    val dir = stageDocs("gopher", Seq(
      (0L, "s", words("w", 10)),                              // too short
      (1L, "s", (0 until 40).map(_ => "aaaaaaaaaaaaaaa").mkString(" ")), // mean len 15
      (2L, "s", (0 until 40).map(_ => "1234").mkString(" ") + " " + stop2), // no alpha... but stopwords present
      (3L, "s", words("uniq", 40)),                           // no stopwords
      (4L, "s", words("ok", 38) + " " + stop2)))              // passes all
    val out = SparkEntry.queries("gopher_filter")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(5), r.getBoolean(6))).toMap
    assert(out(0L) == ("word_count", false))
    assert(out(1L) == ("mean_word_len", false))
    assert(out(2L) == ("alpha_ratio", false), s"got ${out(2L)}")
    assert(out(3L) == ("stopwords", false))
    assert(out(4L) == ("ok", true))
    // precedence: doc 0 is ALSO stopword-free, but word_count reports first
  }

  test("importance_weights: target-vocabulary docs outweigh off-domain docs") {
    // DSIR's selection property: among RAW docs, one sharing the
    // target slice's (src0) vocabulary must carry a strictly higher
    // importance weight than one with disjoint vocabulary
    val cat = "cat kitten paw whisker purr fur claw meow nap lick"
    val dog = "dog puppy bone bark fetch kennel leash growl run dig"
    val dir = stageDocs("dsir", Seq(
      (0L, "src0", cat), (1L, "src0", cat),
      (10L, "other", cat), (11L, "other", dog)))
    val out = SparkEntry.queries("importance_weights")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val byId = out.map(t => t._1 -> t._3).toMap
    assert(out.forall(_._2 == 10L), "n_tokens is the doc token count")
    assert(byId(10L) > byId(11L),
      s"target-vocab raw doc must outweigh off-domain doc: ${byId(10L)} vs ${byId(11L)}")
  }

  test("lm_fluency: repeated-bigram text outscores all-unique text; n_bigrams = tokens - 1") {
    // the LM trains on the corpus itself: a doc cycling one bigram
    // ("x y x y ...") concentrates pair counts, an all-unique doc
    // spreads them to 1 each — the smoothed mean bigram probability
    // must rank the repetitive doc strictly higher. A one-token doc
    // has no bigrams and must not emit a row.
    val rep = (0 until 40).map(i => if (i % 2 == 0) "x" else "y").mkString(" ")
    val dir = stageDocs("lmfluency", Seq(
      (0L, "s", rep), (1L, "s", words("u", 40)), (2L, "s", "solo")))
    val out = SparkEntry.queries("lm_fluency")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out.map(_._1) == Seq(0L, 1L), "one-token doc emits no row")
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(0L)._2 == 39L && byId(1L)._2 == 39L)
    assert(byId(0L)._3 > byId(1L)._3,
      s"repetitive doc must outscore unique doc: ${byId(0L)._3} vs ${byId(1L)._3}")
  }

  test("dedup_apply survivors: singletons survive themselves with n_removed = 0") {
    // the oracle fixture plants 2 variants per doc, so the KEY never
    // sees a singleton cluster — drive the factored apply step on a
    // no-duplicate corpus directly: every doc must survive as its own
    // canonical with nothing removed (dedup on clean data is a no-op,
    // not a data loss)
    import spark.implicits._
    val corpus = Seq(
      (0L, words("alpha", 30)), (1L, words("beta", 40)), (2L, words("gamma", 25)))
      .toDF("doc_id", "text")
    val (labels, _, _) = graft.ops.Pipeline.componentLabels(corpus)
    val out = graft.ops.Pipeline.applySurvivors(corpus, labels).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 1L, 0L), (1L, 1L, 0L), (2L, 1L, 0L)))
  }

  test("componentLabels: a corpus with no duplicates yields all singletons") {
    // empty edge list → the star-contraction loop must stabilize
    // immediately and label every doc as its own component (the
    // left-join-coalesce path), not hang or drop rows
    import spark.implicits._
    val corpus = Seq(
      (0L, words("alpha", 30)), (1L, words("beta", 40)), (2L, words("gamma", 25)))
      .toDF("doc_id", "text")
    val (labels, edges, iters) = graft.ops.Pipeline.componentLabels(corpus)
    assert(edges.count() == 0)
    assert(iters <= 2, s"empty edge set should stabilize instantly, took $iters")
    assert(labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 0L), (1L, 1L), (2L, 2L)))
  }

  test("dedup_lines: a doc that is ALL boilerplate is stripped to zero lines") {
    // src0 is a planted source: the operator prefixes the subscribe
    // line to every doc. 60 docs share their first 9 organic tokens, so
    // both 10-token lines of the planted prefix region are high-DF
    // (df=61 ≥ 50); doc 60 has ONLY those 9 shared tokens → every one
    // of its lines is boilerplate and the clean text must go empty
    // without breaking the hash or the frame
    val shared = words("s", 9)
    val docs = (0L to 59L).map(i => (i, "src0", s"$shared ${words(s"d${i}u", 10)}")) :+
      (60L, "src0", shared)
    val dir = stageDocs("allboiler", docs)
    val out = SparkEntry.queries("dedup_lines")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byId = out.map(t => t._1 -> (t._2, t._3)).toMap
    // doc 60: 2 lines (11-token prefix + 9 shared tokens = 20 tokens), both stripped
    assert(byId(60L) == ((2L, 2L)), s"all-boilerplate doc: got ${byId(60L)}")
    // ordinary docs: 3 lines, the 2 high-DF prefix lines stripped, the
    // unique 10-token tail survives
    (0L to 59L).foreach { i =>
      assert(byId(i) == ((3L, 2L)), s"doc $i: got ${byId(i)}")
    }
  }

  test("dedup_components_delta: empty new batch degenerates to the stored-index build") {
    // a quiet ingest window (every base doc_id < 250 → the appended
    // batch is empty): the delta path must label purely from the
    // stored old-corpus artifacts — no NPE on the empty shingle side,
    // no dropped docs — and still agree with the from-scratch build
    val dir = stageDocs("deltaquiet",
      (0L to 9L).map(i => (i, "s", words(s"d$i", 40))) :+
        // one planted exact pair inside the old half so the edge list
        // is non-empty and contraction has real work
        (200L, "s", words("d0", 40)))
    val full = SparkEntry.queries("dedup_components")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val delta = SparkEntry.queries("dedup_components_delta")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(delta == full)
    assert(delta.nonEmpty)
  }

  test("mix_epochs: single-source corpus — cap binds, budget partition still exact") {
    // one tiny source (10 docs × 50 tokens = 500): with a single source
    // the temperature weights cancel, so its target must be EXACTLY the
    // 100k budget (rounded division of w_total/2 over w_total — no
    // drift), and 1000·100000/500 = 200000 milli-epochs slams into the
    // 4000 cap → planned tokens are exactly cap × src_tokens, NOT the
    // unreachable target
    val dir = stageDocs("mixsingle", (0L to 9L).map(i => (i, "solo", words(s"w$i", 50))))
    val rows = SparkEntry.queries("mix_epochs")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.toSeq == Seq(("solo", 10L, 500L, 100000L, 4000L, 2000L)))
  }

  test("shard_assign: more shards than docs — empty shards, ranks still dense") {
    // 3 docs over NumShards = 8: at least 5 shards are necessarily
    // empty; the assignment must not fabricate rows for them, every
    // emitted shard id stays in range, and each non-empty shard's
    // ranks remain a dense 1..k permutation (a worker with no data
    // reads an empty file — never a gap in another worker's order)
    val dir = stageDocs("shardsparse",
      Seq((0L, "s", words("a", 12)), (1L, "s", words("b", 12)), (2L, "s", words("c", 12))))
    val rows = SparkEntry.queries("shard_assign")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 3)
    assert(rows.forall(r => r._2 >= 0 && r._2 < 8))
    rows.groupBy(_._2).foreach { case (shard, docs) =>
      assert(docs.map(_._3).sorted.sameElements(1L to docs.length),
        s"shard $shard ranks not dense: ${docs.map(_._3).sorted.toSeq}")
    }
    // determinism survives the degenerate corpus too
    val again = SparkEntry.queries("shard_assign")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == again.toSeq)
  }

  test("bpe_train/bpe_apply: a pair-less vocab stops early instead of crashing") {
    // every token is a single character → round 1 has no adjacent pair
    // anywhere; training must emit ZERO merges (the oracle's empty m_i
    // rounds emit no rows) and encoding must fall back to the char
    // vocab, one subword per token
    val dir = stageDocs("bpechars",
      Seq((0L, "s", "a b c a b"), (1L, "s", "c b a"), (2L, "s", "a a b")))
    assert(SparkEntry.queries("bpe_train")(spark, dir).count() == 0)
    val enc = SparkEntry.queries("bpe_apply")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(enc.length == 3)
    enc.foreach { case (_, nTok, nSub, first) =>
      assert(nSub == nTok, "unmerged single-char tokens encode 1:1")
      assert(first.length == 1)
    }
  }

  test("short-doc corpus (< 3 tokens each): no shingles, no band rows, no hot '' bucket") {
    // every doc is under the 3-token shingle width → shingle sets are
    // empty. The SQL-null band semantics (oracle side) never match;
    // Spark must not fabricate a shared empty-string bucket that
    // self-joins the whole corpus quadratically (the Jaccard verify
    // would reject every pair, but at web scale the O(shorts²)
    // candidate blow-up is the real failure). minhashBands drops
    // empty-shingle docs; the dedup keys must come back empty+fast.
    val dir = stageDocs("shorts", (0L until 40L).map(i => (i, "s", s"tok$i x")))
    val near = SparkEntry.queries("dedup_near")(spark, dir)
    assert(near.count() == 0)
    // the band builder itself emits nothing for the staged corpus
    val hs = graft.ops.Text.shingleHashes(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")))
    assert(graft.ops.Text.minhashBands(hs).count() == 0)
  }

  test("stagedArtifact generations: new stamp publishes beside then retires; exactly one live dir; old readers survive") {
    import graft.ops._
    val name = s"genspec_${ProcessHandle.current().pid()}"
    val root = s"${scratchRoot(spark)}/$name"
    purgeOnExit(root)
    def build(v: Int)(stage: String): Unit = {
      import spark.implicits._
      Seq((1L, v)).toDF("id", "v").write.parquet(s"$stage/data")
    }
    val d1 = stagedArtifact(spark, name, "stampA")(build(1))
    assert(d1.startsWith(s"$root/g-"), s"generation layout missing: $d1")
    // same stamp: fresh — the build lambda must not run again
    assert(stagedArtifact(spark, name, "stampA")(
      _ => fail("rebuilt a fresh artifact")) == d1)
    // a reader of generation A, fully materialized before the rebuild
    val before = spark.read.parquet(s"$d1/data").cache()
    assert(before.count() == 1)
    // rebuild under a NEW stamp: publishes BESIDE generation A, then
    // retires it — new commits before old retires
    val d2 = stagedArtifact(spark, name, "stampB")(build(2))
    assert(d2 != d1)
    val live = hfsList(spark, root).map(_.getPath.getName).toSet
    assert(live == Set(d2.split('/').last),
      s"expected exactly one live generation, got $live")
    // the old generation's materialized reader is unaffected mid-serve
    assert(before.count() == 1)
    assert(spark.read.parquet(s"$d2/data").head().getInt(1) == 2)
    before.unpersist()
    ()
  }

  test("sweepDeadRuns: a dead JVM's pid dirs and the artifacts keyed on them go; live ones stay") {
    import graft.ops.{hfsList, sweepDeadRuns}
    val root = java.nio.file.Files.createTempDirectory("sweep").toString
    try {
      val live = ProcessHandle.current().pid()
      // above any pid_max (at most 2^22 on Linux): no live process
      val dead = 99999999L
      def key(p: String) = p.replaceAll("[^A-Za-z0-9.]", "_")
      val planted = Seq(s"edge_x_$dead", s"edge_x_$live",
        s"cc_index_${key(s"$root/edge_x_$dead")}_documents.parquet",
        s"cc_index_${key(s"$root/edge_x_$live")}_documents.parquet",
        s"ivfpq_compact_${key(s"$root/ivfpq_stream_$dead")}_0123abcd",
        "ivfcent_125__tmp_fixture_123_embeddings.parquet")
      planted.foreach(n => java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(root, n, "g-1")))
      sweepDeadRuns(spark, root)
      val left = hfsList(spark, root).map(_.getPath.getName).toSet
      // the compacted artifact goes although its run dir is gone
      assert(left == Set(s"edge_x_$live",
        s"cc_index_${key(s"$root/edge_x_$live")}_documents.parquet",
        "ivfcent_125__tmp_fixture_123_embeddings.parquet"), s"left: $left")
    } finally graft.ops.hfsDelete(spark, root)
  }
}
