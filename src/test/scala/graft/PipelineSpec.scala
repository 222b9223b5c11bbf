package graft

import org.apache.spark.sql.functions._

/** Semantic properties of the graft.ops.Pipeline operators that the
  * hash oracle cannot express: cluster structure recovery, budget
  * bounds, selectivity direction, planted-evidence isolation.
  */
class PipelineSpec extends SparkSpec {

  private def run(key: String) = SparkEntry.queries(key)(spark, sfDir)

  /** Ground-truth closure of the planted component corpus, mirrored
    * from componentCorpus (base text, exact copy +10000, last-token
    * truncation +20000). Duplicate relation: exact text equality —
    * which also captures the fixture's own cross-base collisions,
    * where one doc's truncation equals ANOTHER doc's full text (at
    * sf0.001 there are 24 such chains, e.g. truncate(doc 82) ==
    * doc 0) — plus each doc's planted variant edges. Components are
    * the transitive closure by union-find with min-root labels (the
    * operator labels components by min doc_id). Returns
    * (base docs, full corpus, id → component root).
    */
  private def groundTruthClosure()
      : (Array[(Long, String)], Seq[(Long, String)], Map[Long, Long]) = {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val corpus: Seq[(Long, String)] = base.toSeq.flatMap { case (id, t) =>
      val trunc = t.split(" ").dropRight(1).mkString(" ")
      Seq((id, t), (id + 10000, t), (id + 20000, trunc))
    }
    val parent = scala.collection.mutable.Map(corpus.map(c => c._1 -> c._1): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      parent(x) = r; r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    corpus.groupBy(_._2).values.foreach { g =>
      g.map(_._1).reduceLeft { (a, b) => union(a, b); a }
    }
    base.foreach { case (id, _) => union(id, id + 10000); union(id, id + 20000) }
    (base, corpus, corpus.map(c => c._1 -> find(c._1)).toMap)
  }

  test("dedup_components matches the ground-truth closure of fixture duplicates") {
    val rows = run("dedup_components").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byId = rows.map { case (id, comp, sz) => id -> (comp, sz) }.toMap

    val (base, corpus, root) = groundTruthClosure() // root == component min
    val size = root.groupBy(_._2).map { case (r, m) => r -> m.size.toLong }
    assert(rows.length == corpus.length)
    corpus.foreach { case (id, _) =>
      val expected = (root(id), size(root(id)))
      assert(byId(id) == expected, s"doc $id: got ${byId(id)}, ground truth $expected")
    }
    // sanity: the closure is non-trivial — planted variants always land
    // in their base doc's component, and at least one fixture-planted
    // cross-base chain exists (component larger than the 3 variants)
    base.foreach { case (id, _) =>
      assert(root(id + 10000) == root(id) && root(id + 20000) == root(id))
    }
    assert(rows.exists(_._3 > 3), "fixture should contain a cross-base duplicate chain")
  }

  test("dedup_apply: one canonical survivor per cluster, planted duplicates gone") {
    val rows = run("dedup_apply").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val (_, corpus, root) = groundTruthClosure()
    val textOf = corpus.toMap
    val comps = root.groupBy(_._2) // root -> members

    // survivor set == ground-truth component roots, exactly once each —
    // a singleton component would survive with n_removed = 0 (none
    // exist in this fixture: every base doc has 2 planted variants, so
    // every cluster has ≥ 3 members — asserted, so a fixture change
    // that DID introduce singletons would flag this spec for review)
    assert(rows.map(_._1).toSeq.sorted == comps.keySet.toSeq.sorted)
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.foreach { case (id, _, compSize, nRemoved) =>
      assert(compSize == comps(id).size.toLong, s"survivor $id wrong cluster size")
      assert(nRemoved == compSize - 1)
      assert(compSize >= 3, s"fixture invariant: no singleton clusters (doc $id)")
    }
    // survivors are canonical = the min doc_id, hence always a BASE doc
    // (planted +10000/+20000 variants never survive); the emitted text
    // hash is the SURVIVOR's own text
    rows.foreach { case (id, textHash, _, _) =>
      assert(id < 10000, s"planted variant $id survived dedup")
      val expected = java.security.MessageDigest.getInstance("MD5")
        .digest(textOf(id).getBytes("UTF-8")).take(4)
        .foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
      assert(textHash == expected, s"survivor $id text hash mismatch")
    }
    // dedup accounting: survivors + removed partition the corpus
    assert(rows.map(_._3).sum == corpus.length.toLong)
    assert(rows.length + rows.map(_._4).sum == corpus.length.toLong)
  }

  test("dedup_components_delta is byte-identical to the from-scratch clustering") {
    // incremental == from-scratch is the operator's whole contract:
    // the delta path must reproduce every (doc, comp, size) row the
    // full rebuild produces, not merely a consistent labeling
    val full = run("dedup_components").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val delta = run("dedup_components_delta").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(delta == full)
  }

  test("pack_sequences: packs are contiguous, budget-bounded modulo one doc") {
    val packs = run("pack_sequences").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // within a source, pack ids are dense from 0 (no gaps, ordering kept)
    packs.groupBy(_._1).foreach { case (_, ps) =>
      assert(ps.map(_._2).sorted.sameElements(0L until ps.length))
    }
    // each pack's starting offset is inside its 256-token budget slot,
    // so a pack overflows by at most its last doc (streaming next-fit)
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("source"), col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val maxDoc = fixture.map(_._3).max
    packs.foreach { case (_, _, _, tokens) =>
      assert(tokens < 256 + maxDoc, "pack exceeds budget by more than one doc")
    }
    // packing partitions the corpus: token totals match
    assert(packs.map(_._4).sum == fixture.map(_._3.toLong).sum)
  }

  test("doc_chunk: chunks tile every doc with stride 24 and cover all tokens") {
    val chunks = run("doc_chunk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val lens = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // oracle guard: the DuckDB oracle's stride table is range(0, 8) —
    // exact only for docs ≤ 8 + 24·7 = 176 tokens. The Spark side is
    // data-bounded, so a longer-doc fixture would diverge SILENTLY in
    // the hash gate; fail loudly here instead.
    assert(lens.values.max <= 176,
      s"fixture outgrew doc_chunk oracle's range(0,8) stride table (max ${lens.values.max} tokens)")
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      // starts are 1, 25, 49, …
      sorted.foreach { case (_, idx, start, _) => assert(start == 1 + 24 * idx) }
      // last chunk reaches the end of the doc
      val (_, _, lastStart, lastLen) = sorted.last
      assert(lastStart + lastLen - 1 == lens(id))
      // every token is covered (stride 24 < size 32 → no holes)
      assert(sorted.forall { case (_, _, s, l) => l >= 1 && s <= lens(id) })
    }
  }

  test("corpus_mix: rates upweight small sources and sampling tracks the rate") {
    val rows = run("corpus_mix").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // rate ∝ tokens^-1/2 per doc: source with fewer tokens gets the
    // higher per-doc keep rate (strictly, unless token totals tie)
    for (a <- rows; b <- rows if a._3 < b._3)
      assert(a._4 >= b._4, s"${a._1} smaller than ${b._1} but lower rate")
    // sampled counts are within the binomial envelope of rate*n_docs
    rows.foreach { case (src, nDocs, _, rateMicro, nSampled) =>
      val expected = nDocs * rateMicro / 1000000.0
      assert(math.abs(nSampled - expected) <= math.max(5, 4 * math.sqrt(expected + 1)),
        s"$src sampled $nSampled vs expected $expected")
    }
  }

  test("mix_epochs: targets fill the budget, epochs upweight small sources, cap holds") {
    val rows = run("mix_epochs").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // temperature targets partition the budget (exactly, modulo one
    // rounding unit per source)
    val budget = 100000L
    assert(math.abs(rows.map(_._4).sum - budget) <= rows.length,
      s"targets sum to ${rows.map(_._4).sum}, budget $budget")
    // per-source epochs ∝ tokens^(-1/2): smaller source → ≥ epochs
    // (ties allowed; the cap flattens the smallest sources)
    for (a <- rows; b <- rows if a._3 < b._3)
      assert(a._5 >= b._5, s"${a._1} smaller than ${b._1} but fewer epochs")
    rows.foreach { case (src, _, srcTokens, target, epochs, planned) =>
      assert(epochs <= 4000L, s"$src exceeds the 4-epoch cap")
      // uncapped sources hit their target within integer rounding;
      // capped sources plan exactly cap × tokens
      if (epochs < 4000L)
        assert(math.abs(planned - target) <= 1 + srcTokens / 1000,
          s"$src planned $planned vs target $target")
      else
        assert(math.abs(planned - srcTokens * 4) <= 1)
    }
  }

  test("shard_assign: shards are balanced, ranks dense, assignment deterministic") {
    val rows = run("shard_assign").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = rows.length
    assert(n > 0)
    val byShard = rows.groupBy(_._2)
    assert(byShard.keySet.subsetOf((0L until 8L).toSet))
    // hash balance: every shard within ±5σ of the binomial mean
    val mean = n / 8.0
    val sd = math.sqrt(n * (1.0 / 8) * (7.0 / 8))
    byShard.foreach { case (s, docs) =>
      assert(math.abs(docs.length - mean) <= 5 * sd + 1,
        s"shard $s has ${docs.length} docs, expected ~$mean")
    }
    // ranks are a dense permutation 1..|shard| within each shard
    byShard.foreach { case (_, docs) =>
      assert(docs.map(_._3).sorted.sameElements(1L to docs.length))
    }
    // deterministic: a second run is byte-identical (seeded hashes,
    // no RNG state)
    val again = run("shard_assign").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == again.toSeq)
  }

  test("doc_rarity: scores are scale-capped and rare-token counts are consistent") {
    val rows = run("doc_rarity").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    rows.foreach { case (_, n, rarity, nRare, flag) =>
      assert(rarity >= 1000 && rarity <= 100000) // ≥ uniform floor, ≤ cap
      assert(nRare <= n)
      assert(flag == (nRare * 5 >= n))
    }
  }

  test("domain_filter: blocklist is absent, per-domain cap holds") {
    val rows = run("domain_filter").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val blocked = Set("src0-1.example.com", "src3-2.example.com", "src7-5.example.com")
    assert(rows.forall(r => !blocked.contains(r._2)))
    rows.groupBy(_._2).foreach { case (dom, ds) =>
      assert(ds.length <= 2, s"$dom over cap")
      // kept docs are the LOWEST doc_ids of the domain (rank by doc_id)
      assert(ds.map(_._3).sorted.sameElements(1L to ds.length))
    }
  }

  test("dedup_lines: boilerplate stripped only where planted, organic lines survive") {
    val rows = run("dedup_lines").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val srcOf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val plantedSrcs = Set("src0", "src1", "src2", "src3", "src4")
    rows.foreach { case (id, nLines, nRemoved, _) =>
      if (plantedSrcs(srcOf(id)))
        assert(nRemoved == 1, s"doc $id should lose exactly the planted line")
      else
        assert(nRemoved == 0, s"doc $id lost an organic line")
      assert(nLines >= 1)
    }
    // a clean corpus (strip applied) re-scanned finds nothing to remove:
    // idempotence of the filter on its own output — no doc loses lines
    // twice, since removal already took df(boilerplate) to zero
    val removedTotal = rows.map(_._3).sum
    assert(removedTotal == rows.count(r => plantedSrcs(srcOf(r._1))))
  }

  test("dedup_soft: per-doc weight is exactly 1e6 div cluster size; gradient mass ~1 unit per cluster") {
    val rows = run("dedup_soft").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.foreach { case (_, _, size, w) =>
      assert(size >= 1)
      assert(w == 1000000L / size)
    }
    // every base doc has at least its exact +10000 copy in-cluster (the
    // truncated +20000 plant may miss the 0.8 Jaccard bar on 10-token
    // docs), so every base doc's weight is genuinely scaled down
    val sizeOf = rows.map(r => r._1 -> r._3).toMap
    rows.filter(_._1 < 10000).foreach { case (id, _, size, _) =>
      assert(size >= 2, s"base doc $id unclustered")
      assert(sizeOf(id + 10000) == size, s"exact copy of $id in another cluster")
    }
    // docs sharing a cluster share a weight; cluster count is recovered
    val byComp = rows.groupBy(_._2)
    byComp.values.foreach { ds =>
      assert(ds.map(_._4).distinct.length == 1)
      assert(ds.map(_._3).head == ds.length) // stored size is the real size
    }
    // soft dedup's invariant: total weighted mass ≈ one unit per
    // distinct content (floor loses < 1 micro-unit per member)
    val mass = rows.map(_._4).sum
    val n = byComp.size.toLong
    assert(mass <= n * 1000000L && mass > n * 1000000L - rows.length)
  }

  test("mix_weighted: effective mass never exceeds raw, duplicates discount it, budget holds") {
    val rows = run("mix_weighted").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.length == 20) // one row per source
    rows.foreach { case (_, _, raw, eff, rate, _) =>
      assert(eff <= raw, "soft weights are ≤ 1: effective mass cannot exceed raw")
      assert(eff > 0 && rate > 0 && rate <= 1000000L)
    }
    // the corpus's organic duplicate pairs must discount SOME source
    assert(rows.exists { case (_, _, raw, eff, _, _) => eff < raw },
      "no source discounted — the weight join is a no-op")
    // expected sample size stays on the MixTarget budget (rates are
    // constructed so Σ n_docs·rate/1e6 ≈ 200; sampling is Bernoulli)
    val expected = rows.map { case (_, n, _, _, rate, _) => n * rate }.sum / 1e6
    assert(math.abs(expected - 200.0) <= 2.0, s"rate budget drifted: $expected")
    val sampled = rows.map(_._6).sum.toDouble
    assert(math.abs(sampled - expected) <= 4 * math.sqrt(expected))
    // deterministic: the seeded-hash pick is a pure function
    val again = run("mix_weighted").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(again.toSeq == rows.toSeq)
  }

  test("dedup_url: planted messy aliases collapse onto their base URL; nothing else merges") {
    val rows = run("dedup_url").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    // one canonical group per page: every alias collapsed
    assert(rows.length == nDocs)
    rows.foreach { case (canon, keeper, n) =>
      // canonical form carries no scheme, www, params, fragment, or
      // trailing slash in ANY group (the regexp chain really applied)
      assert(!canon.contains("://") && !canon.startsWith("www.")
        && !canon.contains("?") && !canon.contains("#") && !canon.endsWith("/"),
        s"uncanonical survivor: $canon")
      assert(canon == canon.toLowerCase)
      if (keeper % 10 == 0) assert(n == 2, s"alias of doc $keeper did not collapse")
      else assert(n == 1, s"unexpected merge on $canon")
      // the keeper is always the base doc (aliases live at +50000)
      assert(keeper < 50000)
    }
  }

  test("split_leakage_free: no duplicate cluster straddles a split boundary") {
    val out = SparkEntry.queries("split_leakage_free")(spark, sfDir).cache()
    // THE property: every cluster maps to exactly one split (a doc-hash
    // split provably violates this for the planted copies)
    assert(out.groupBy(col("comp"))
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") =!= 1).count() == 0, "a cluster straddles splits")
    // the planted exact copy (+10000) and truncation (+20000) of every
    // doc land in their base doc's split
    val m = out.select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    m.keys.filter(_ < 10000).foreach { id =>
      assert(m(id + 10000) == m(id), s"exact copy of $id split apart")
      assert(m(id + 20000) == m(id), s"truncation of $id split apart")
    }
    // the 80/10/10 target holds at cluster granularity (hash variance
    // over ~500 clusters: generous bounds)
    val n = out.count().toDouble
    val train = out.filter(col("split") === "train").count() / n
    assert(train > 0.6 && train < 0.95, s"train fraction $train")
  }

  test("quality_buckets: terciles cover the corpus in disjoint ordered bands") {
    val rows = run("quality_buckets").collect()
    val n = Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getLong(1)).sum == n, "buckets don't partition the corpus")
    val byB = rows.map(r => r.getString(0) -> r).toMap
    for (b <- Seq("head", "middle", "tail"))
      assert(byB.contains(b), s"missing bucket $b")
    // centi-cell thresholds make the score bands strictly disjoint
    assert(byB("tail").getLong(3) < byB("middle").getLong(2),
      "tail and middle score bands overlap")
    assert(byB("middle").getLong(3) < byB("head").getLong(2),
      "middle and head score bands overlap")
    // cumulative tercile bounds: cum(t1) ≥ ⌈N/3⌉, cum(t2) ≥ ⌈2N/3⌉
    assert(byB("tail").getLong(1) >= (n + 2) / 3)
    assert(byB("tail").getLong(1) + byB("middle").getLong(1) >= (2 * n + 2) / 3)
  }
}
