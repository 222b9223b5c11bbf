package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond the per-document dedup /
  * scoring family in [[Text]]: the corpus-level preparation steps a
  * 100 TB pretraining pipeline runs between "deduped documents" and
  * "token stream on disk" —
  *
  *  - duplicate-CLUSTER resolution (`dedup_components`): MinHash pairs
  *    only say "a ~ b"; picking one canonical doc per transitive
  *    duplicate group needs connected components. Implemented as
  *    large-star/small-star contraction over the (bounded, LSH-banded)
  *    edge list — the MapReduce-CC standard (Kiveris et al.): each
  *    phase pair is two edge-only min-aggregates, the edge list
  *    shrinks as chains contract (O(log diameter) phase pairs), and
  *    the corpus is joined exactly once for label assignment.
  *  - cluster-dedup apply (`dedup_apply`): consume the labels — emit
  *    the canonical (min-id) survivor per cluster with its cluster
  *    size and removed count, via one label aggregate + one join back
  *    to the corpus.
  *  - sequence packing (`pack_sequences`): assign docs to fixed
  *    token-budget training sequences by running offset — one window
  *    over (source, doc order), no shuffle beyond the window's.
  *  - context chunking (`doc_chunk`): overlapping fixed-size windows
  *    per doc via a bounded sequence expand — map-side only.
  *  - temperature mixing (`corpus_mix`): per-source keep rates
  *    ∝ tokens^α (α = ½), then deterministic seeded-hash selection.
  *    All arithmetic stays in exact integers until one final
  *    correctly-rounded division, so the DuckDB oracle is bit-equal.
  *  - epoch planning (`mix_epochs`): the repeat-factor half of the
  *    data recipe — per-source milli-epochs filling a token budget at
  *    temperature ½, capped at 4 epochs.
  *  - training-shard assignment (`shard_assign`): seeded-hash shard +
  *    deterministic in-shard order for N data-parallel workers, no
  *    global sort.
  *  - rarity scoring (`doc_rarity`): corpus-frequency-based quality
  *    signal (rare-token density ≈ gibberish detector) with integer
  *    per-token contributions — order-free sums, no float divergence.
  *  - domain filtering (`domain_filter`): regex domain extraction,
  *    blocklist anti-join, per-domain cap — the Common-Crawl-style
  *    source hygiene step.
  *  - line-level boilerplate dedup (`dedup_lines`): C4/RefinedWeb-style
  *    removal of lines shared by many documents, via a line-hash
  *    document-frequency aggregate + per-doc array filter.
  *
  * Same ground rules as [[Text]]: md5-derived hashes only (oracle
  * replicates them bit-for-bit), no `collect()`, candidate generation
  * always hash-bucketed, planted evidence so every key provably
  * recovers a known artifact rather than passing vacuously.
  */
object Pipeline {

  import QueryDef.sql
  import Text.{D, GopherAlphaMicro, GopherMeanLenMicro, GopherMinStop, GopherWords}

  /** The quality_buckets pipeline over an arbitrary (doc_id, text)
    * corpus.
    */
  private[graft] def qualityBuckets(corpus: DataFrame): DataFrame = {
    val c = corpus
      .select(col("doc_id"), graft.ops.Text.qualityMicroCol.as("q_micro"))
      .withColumn("qc", expr("q_micro div 10000")).cache()
    val th = graft.ops.tercileCuts(c.select(col("qc")), "qc", "t1", "t2")
    c.crossJoin(broadcast(th)) // 1-row thresholds — the scalar topology
      .select(when(col("qc") <= col("t1"), lit("tail"))
        .when(col("qc") <= col("t2"), lit("middle"))
        .otherwise(lit("head")).as("bucket"), col("q_micro"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("q_micro")).as("min_q_micro"),
        max(col("q_micro")).as("max_q_micro"),
        expr("sum(q_micro) div count(1)").as("avg_q_micro"))
      .orderBy(col("bucket"))
  }

  // ---- dedup_components: shared corpus + edge construction -------------

  /** Corrupted corpus for cluster resolution: every doc also arrives
    * as an exact copy (+10000) and a truncated near-copy (+20000).
    * NOTE: components are NOT always the neat {id, id+10000, id+20000}
    * triple — the fixture itself plants cross-base duplicate chains
    * (at sf0.001, 24 pairs where truncate(doc a)'s text equals doc b's
    * full text, e.g. truncate(82) == 0, truncate(0) == 50), so the true
    * components are the transitive closure over ALL duplicate
    * relations; PipelineSpec computes that ground truth from the
    * fixture.
    */
  private[graft] def componentCorpus(base: DataFrame): DataFrame =
    Text.withCopies(base, ComponentPlants)

  /** The component corpus' plants: exact copy +10000, truncation +20000. */
  private val ComponentPlants = Seq(10000 -> false, 20000 -> true)

  /** Duplicate-cluster labels by large-star/small-star contraction
    * over LSH-banded near-dup edges (Jaccard ≥ 0.8) plus exact-text
    * star edges — the core of `dedup_components`, factored out so the
    * indexed, streaming and pipeline keys and the specs share it.
    *
    * Returns (labels `(id, lbl)`, symmetrized edge list `(src, dst)`,
    * contraction phase pairs). The corpus-sized `hs` is NOT cached
    * (cache pressure at 100 TB — it reads twice from lineage, two scans
    * not a spill); the only materializations are the edge list (≪
    * corpus — only docs with a duplicate appear) and each round's
    * contracted successor.
    */
  /** Exact-duplicate star edges (member → text-group min), grouped on
    * the full 128-bit md5 of the text rather than the text itself: the
    * shuffle then moves 16-byte digests instead of whole documents —
    * the only viable shape at 100 TB — and md5 equality is text
    * equality for any non-adversarial corpus (the DuckDB oracle groups
    * by raw text; a collision is a ~2^-64·pairs event).
    */
  private def exactStarEdges(corpus: DataFrame): DataFrame =
    exactStarEdgesKeyed(corpus.select(col("doc_id"), md5(col("text")).as("k")))

  /** [[exactStarEdges]] over an already-digested (doc_id, k) frame —
    * the entry point for callers that computed the md5 alongside the
    * shingle hashes in one corpus pass (componentLabels' metadata
    * checkpoint) and must not re-read the text for the star build.
    */
  private def exactStarEdgesKeyed(keyed: DataFrame): DataFrame = {
    val reps = keyed.groupBy(col("k")).agg(min(col("doc_id")).as("rep"))
    keyed.join(reps, Seq("k"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("x"), col("rep").as("y"))
  }

  /** LSH-banded candidate pairs Jaccard-verified at ≥ 0.8 over shingle
    * sets — the near-duplicate half edges. `probe` defaults to the
    * full band table (all-pairs self-join); the delta path passes only
    * the NEW batch's bands so candidates are restricted to pairs
    * involving a new doc, and `probeHs` the batch's (small, cached)
    * hs so only ONE of the two Jaccard joins touches the full
    * corpus-sized hs table per batch — the wide-array shuffle is the
    * dominant per-batch cost at scale.
    */
  private[graft] def verifiedNearEdges(hs: DataFrame, bands: DataFrame,
      probe: Option[DataFrame] = None,
      probeHs: Option[DataFrame] = None): DataFrame = {
    val jac = Text.jaccard(col("ha.hs"), col("hb.hs"))
    probe match {
      case None =>
        val nearPairs = bands.as("a")
          .join(bands.as("b"),
            col("a.b") === col("b.b") && col("a.bkey") === col("b.bkey") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"))
          .distinct()
        nearPairs
          .join(hs.as("ha"), col("ha.doc_id") === col("x"))
          .join(hs.as("hb"), col("hb.doc_id") === col("y"))
          .filter(jac >= 0.8)
          .select(col("x"), col("y"))
      case Some(p) =>
        // every candidate has ≥1 probe endpoint; keep one probe id per
        // normalized pair (Jaccard is symmetric, so WHICH endpoint
        // verifies from the batch side is immaterial) — the pair
        // groupBy is a narrow shuffle, far cheaper than a second
        // corpus-sized hs join
        val ph = probeHs.getOrElse(hs)
        val pairs = p.as("a")
          .join(bands.as("b"),
            col("a.b") === col("b.b") && col("a.bkey") === col("b.bkey") &&
              col("a.doc_id") =!= col("b.doc_id"))
          .select(least(col("a.doc_id"), col("b.doc_id")).as("x"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("y"),
            col("a.doc_id").as("pa"))
          .groupBy(col("x"), col("y")).agg(max(col("pa")).as("pa"))
        pairs
          .join(ph.as("ha"), col("ha.doc_id") === col("pa"))
          .join(hs.as("hb"), col("hb.doc_id") ===
            when(col("x") === col("pa"), col("y")).otherwise(col("x")))
          .filter(jac >= 0.8)
          .select(col("x"), col("y"))
    }
  }

  private[graft] def componentLabels(corpus: DataFrame,
      pre: Option[(DataFrame, DataFrame, DataFrame)] = None): (DataFrame, DataFrame, Int) = {
    // `pre` = persisted (hs, bands, exact star edges) of THIS corpus
    // (componentLabelsIndexed): the edge build then scans the stored
    // MinHash index instead of re-running shingling + 12 permutations
    // over 3n docs, and skips the corpus-text digest groupBy entirely —
    // the same index-reuse story dedup_incremental_indexed proves,
    // applied to clustering (VERDICT r8 #3)
    pre match {
      case Some((hs, bands, exactEdges)) =>
        val nearEdges = verifiedNearEdges(hs, bands)
        contractToLabels(corpus, nearEdges.unionByName(exactEdges))
      case None =>
        // NO stored index: ONE pass over the corpus text computes every
        // proxy the edge build needs — shingle-hash set AND exact-dup
        // digest in the same projection — checkpointed (lazily; the
        // contraction's round-1 signature materializes it) so the band
        // self-join, both Jaccard hs sides and the star build all read
        // the metadata blocks instead of each re-running split +
        // shingling + md5 over the full corpus lineage (r21, guide §8
        // "decide with small rows": before this the hs lineage was
        // evaluated 4× and the digest twice per labels() call). The
        // frame is exactly the (hs + digests) artifact the streaming
        // ingest path persists per batch. SIZE + FAULT-TOLERANCE note
        // (ADVICE r21): "text-free" does not mean small — hs holds one
        // 64-bit hash per distinct 3-shingle, the same order of
        // magnitude as the text itself — and localCheckpoint is
        // non-fault-tolerant (an executor loss fails the job instead of
        // recomputing lineage). Both are the r21 §8 decision: one
        // measured corpus pass instead of ~4, with MEMORY_AND_DISK
        // spill-not-evict semantics, held only for this labels() call;
        // a deployment that can't accept the lineage cut would swap in
        // a reliable checkpoint at the same line.
        val meta = corpus.select(col("doc_id"),
            Text.hsCol(col("text")).as("hs"), md5(col("text")).as("k"))
          .localCheckpoint(false)
        val hs0 = meta.select(col("doc_id"), col("hs"))
        val nearEdges = verifiedNearEdges(hs0, Text.minhashBands(hs0))
        val half = nearEdges.unionByName(
          exactStarEdgesKeyed(meta.select(col("doc_id"), col("k"))))
        // label join reads the CORPUS lineage (a column-pruned,
        // doc_id-only parquet scan), NOT meta (ADVICE r21 suggested
        // labeling from the checkpoint ids; measured at sf0.1 it is
        // ~2× SLOWER — checkpoint blocks are whole InternalRows, so an
        // id projection over the RDD leaf still deserializes every hs
        // array, while the parquet re-scan reads one integer column.
        // pipeline_e2e differs: ITS corpus lineage embeds the 3-way
        // union + Gopher metrics, so the checkpoint read wins there.)
        contractToLabels(corpus, half)
    }
  }

  /** Symmetrize + contract a half-edge list to component labels — the
    * shared back half of [[componentLabels]] (full/indexed edge build)
    * and [[componentLabelsDelta]] (incremental edge build). Any edge
    * set with the right CONNECTIVITY yields identical labels: the
    * fixed point of star contraction is the component-min root
    * regardless of which spanning edges were supplied.
    */
  private[graft] def contractToLabels(corpus: DataFrame,
      half: DataFrame): (DataFrame, DataFrame, Int) = {
    // symmetrized + checkpointed once; every iteration reads this
    // small table instead of re-running shingling/banding. LAZY (r21):
    // round 1's signature action materializes it — the eager variant
    // paid a dedicated job (one extra full pass over the edge build's
    // lineage) before the loop's first round read it anyway.
    val edges = half
      .unionByName(half.select(col("y").as("x"), col("x").as("y")))
      .distinct()
      .withColumnRenamed("x", "src").withColumnRenamed("y", "dst")
      .localCheckpoint(false)

    // ---- large-star / small-star contraction (Kiveris et al.,
    // "Connected Components in MapReduce and Beyond") -------------------
    // The loop touches ONLY the edge list — which holds just the docs
    // that have a duplicate, ≪ corpus — never a corpus-sized labels
    // table. Earlier designs probed here: plain min-label flooding is
    // O(diameter) rounds of corpus-sized joins (13 rounds on the
    // fixture); flooding + pointer jumping doesn't help on arbitrary
    // id orderings (12 rounds). Star contraction converges in
    // O(log diameter) phase pairs of edge-only aggregates, and the
    // corpus is joined exactly once at the end for label assignment —
    // the right cost shape at 100 TB, where edges ≪ corpus.
    //
    // large-star: every vertex u links its LARGER neighbors to
    // m = min(Γ(u) ∪ u) — long chains hook upward onto local minima.
    // small-star: u links its ≤-neighbors and itself to their min —
    // stars flatten onto the true root. Both phases are monotone
    // (pair potential only decreases), so the fixed point — disjoint
    // stars rooted at component minima — is reached deterministically.
    // both directions, no distinct: the phases' min-aggregates are
    // duplicate-insensitive, so one distinct per round (below) bounds
    // growth without paying a shuffle per sym()
    def sym(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    // phase shape DELIBERATELY groupBy(src).min + join-back, not a
    // window (r21, measured): the per-src min table is ≪ the edge
    // list, so AQE broadcast-joins it back and the edge list itself
    // never shuffles; a window over partitionBy(src) would force a
    // full shuffle+sort of the edges every phase (measured 2.3×
    // slower at sf0.1). When the min table outgrows the broadcast
    // threshold AQE falls back to a shuffled join on its own — the
    // adaptive behaviour a fixed window shape cannot recover.
    def largeStar(e: DataFrame): DataFrame = {
      val m = e.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      e.join(m, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val sm = e.filter(col("dst") < col("src"))
      val m = sm.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      sm.join(m, "src")
        .select(col("dst").as("src"), col("mn").as("dst"))
        .unionByName(m.select(col("src"), col("mn").as("dst")))
        .filter(col("src") =!= col("dst"))
    }
    // stability signature: (edge count, order-free hash XOR) of the
    // round's canonical (distinct, undirected) output — one aggregate
    // instead of two anti-joins; the phase potential is monotone, so a
    // signature match IS the fixed point. bit_xor, NOT sum: summing
    // 64-bit hashes overflows under ANSI arithmetic on any real edge
    // count; XOR is overflow-free and exact over a distinct set.
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(src, dst))")).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var cur = edges
    var sig = (-1L, -1L)
    var iter = 0
    var stable = false
    while (!stable && iter < 30) {
      // LAZY checkpoint + eager signature = ONE action per round (r21,
      // guide §1/§2): the eager localCheckpoint ran the round's whole
      // chain once to persist it, then signature() ran a second job
      // over the persisted blocks — two passes per round. The lazy
      // variant persists the blocks as a side effect of the signature
      // aggregate, halving the loop's job count; `cur` is still backed
      // by materialized blocks when the next round (or the final roots
      // aggregate) reads it.
      val next = smallStar(sym(largeStar(sym(cur)))).distinct().localCheckpoint(false)
      val nsig = signature(next)
      stable = nsig == sig
      sig = nsig
      cur = next
      iter += 1
    }
    // convergence is O(log diameter) — 5 phase pairs measured at the
    // 64× octave — so exhausting the cap always indicates a real bug;
    // silently labeling from a non-converged edge set would merge or
    // split clusters wrongly (= deleting non-duplicate data downstream)
    require(stable, s"connected-components contraction did not converge in $iter phase pairs")
    // at the fixed point `cur` is disjoint stars (member → root); a
    // vertex appearing only as dst is a root (its own min)
    val roots = sym(cur).groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("root"))
    // the single corpus-sized join of the whole loop: docs without a
    // duplicate never entered the edge list and label themselves
    val labels = corpus.select(col("doc_id").as("id"))
      .join(roots, Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("lbl"))
    (labels, edges, iter)
  }

  /** [[componentLabels]] over the PERSISTED MinHash index of the
    * component corpus: `target/tmp/cc_index_*` holds (hs, bands,
    * exact star edges) built once per `documents.parquet` version
    * (same staging/stamping machinery as `dedup_incremental_indexed`'s
    * band index). The edge build's dominant costs — shingling +
    * 12-permutation MinHash over 3n docs, and the text-digest groupBy
    * for exact duplicates — become parquet scans on every warm run;
    * the corpus itself is only touched by the final (column-pruned,
    * id-only) label join. At 100 TB the index is the production
    * artifact continuous dedup maintains anyway (batches append to
    * it), so clustering rides the same investment instead of re-paying
    * it.
    */
  private[graft] def componentLabelsIndexed(
      s: SparkSession, d: String): (DataFrame, DataFrame, Int) = {
    val corpus = componentCorpus(docs(s, d))
    val idx = Text.stagedHsIndex(s, d, "cc_index",
      Map("exact" -> ((c: DataFrame, _: DataFrame, _: DataFrame) =>
        exactStarEdges(c))))(corpus)
    val hs = s.read.parquet(s"$idx/hs")
    // partition column b returns as INT from directory names — the
    // type minhashBands produces, so the band join key lines up
    val bands = s.read.parquet(s"$idx/bands")
      .select(col("doc_id"), col("b"), col("bkey"))
    val exact = s.read.parquet(s"$idx/exact")
    componentLabels(corpus, Some((hs, bands, exact)))
  }

  /** Incremental cluster maintenance: labels for the FULL corpus,
    * computed from an appended batch (base doc_id ≥ 250, mirroring the
    * incremental-dedup split) WITHOUT re-touching the old corpus — the
    * continuous-clustering shape a 100 TB ingest pipeline actually
    * runs. Stored per old-corpus version (`cc_old` staged index, built
    * once): `hs`/`bands` (the MinHash index), `near` (verified old×old
    * near edges), `exact` (old exact-dup star edges), `digests`
    * (md5 → min old doc_id). Per batch, only the NEW corpus is
    * shingled; candidates come from new-bands ⋈ (old ∪ new)-bands, so
    * old×old pairs are never re-examined; exact spanning groups
    * connect via one digest join. The union edge set has identical
    * connectivity to the from-scratch build — near candidates
    * partition into {old×old (stored), pairs involving a new doc
    * (probed)}, Jaccard-verified identically, and exact star edges
    * connect every same-text group through its old/new reps — so the
    * contraction fixed point (component-min labels) is provably the
    * same. The spec asserts byte-equality with `dedup_components`;
    * the oracle is the same full-corpus closure.
    */
  /** The per-old-corpus artifacts the delta path stores alongside the
    * MinHash index halves: verified old×old near edges, old exact-dup
    * star edges, and the digest → min-old-id map. Exposed so
    * ClusterStream seeds its index with the identical recipe.
    */
  private[graft] val ccIndexExtras: Map[String, (DataFrame, DataFrame, DataFrame) => DataFrame] = Map(
    "near" -> { (_: DataFrame, hs: DataFrame, bands: DataFrame) =>
      // derive from the WRITTEN halves — one shingling pass per build,
      // and the stored edges can never disagree with the stored index
      verifiedNearEdges(hs, bands)
    },
    "exact" -> { (c: DataFrame, _: DataFrame, _: DataFrame) => exactStarEdges(c) },
    "digests" -> { (c: DataFrame, _: DataFrame, _: DataFrame) =>
      c.select(col("doc_id"), md5(col("text")).as("k"))
        .groupBy(col("k")).agg(min(col("doc_id")).as("rep"))
    })

  private[graft] def componentLabelsDelta(
      s: SparkSession, d: String): (DataFrame, DataFrame, Int) = {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val oldCorpus = componentCorpus(base.filter(col("doc_id") < 250))
    val newCorpus = componentCorpus(base.filter(col("doc_id") >= 250))
    val idx = Text.stagedHsIndex(s, d, "cc_old", ccIndexExtras)(oldCorpus)
    deltaFromIndex(s, idx, newCorpus)
  }

  /** The per-batch half of [[componentLabelsDelta]], parametrized on
    * the stored index dir + corpora.
    */
  private[graft] def deltaFromIndex(s: SparkSession, idx: String,
      newCorpus: DataFrame): (DataFrame, DataFrame, Int) = {
    // the old corpus is represented ENTIRELY by the stored index —
    // its ids come from $idx/hs, its edges/digests from the staged
    // artifacts; taking the old texts as a parameter would imply they
    // influence labeling (they don't, and must not: re-deriving them
    // is exactly the O(old) work this path exists to avoid)
    // O(batch) MinHash — the only shingling this path ever runs.
    // Materialized once: the batch's hs feeds the band build AND both
    // sides of the Jaccard verify, and a BATCH is small by definition —
    // exactly the thing a per-batch job holds. (The full-corpus path
    // ALSO checkpoints its hs+digest metadata now — the r21 §8
    // decision: a corpus-sized but text-free frame, one measured pass
    // instead of ~4; see componentLabels' pre=None note.)
    // lazy (r21): the contraction's first signature action materializes
    // the checkpoint blocks — the eager variant paid a dedicated
    // shingling pass before any consumer ran. Fused (r21 §8): the md5
    // digest rides the same single pass over the batch texts as the
    // shingle hashes, so the star build and the id-only contraction
    // join below read these text-free blocks instead of re-scanning
    // the batch corpus lineage (was: 2 extra md5 passes + 1 id pass).
    val meta = newCorpus.select(col("doc_id"),
        Text.hsCol(col("text")).as("hs"), md5(col("text")).as("k"))
      .localCheckpoint(false)
    val newHs = meta.select(col("doc_id"), col("hs"))
    val newBands = Text.minhashBands(newHs)
    val oldHs = s.read.parquet(s"$idx/hs")
    val oldBands = s.read.parquet(s"$idx/bands")
      .select(col("doc_id"), col("b"), col("bkey"))
    // near edges involving ≥1 new doc: probe new bands against ALL
    // bands (old from the index, new just computed); verify against
    // the combined hs exactly as the full build does
    val allHs = oldHs.unionByName(newHs)
    val newNear = verifiedNearEdges(allHs,
      oldBands.unionByName(newBands), probe = Some(newBands),
      probeHs = Some(newHs))
    // exact duplicates: new×new star edges + one digest join linking
    // each spanning text-group's new rep to its old rep — connectivity
    // equal to the full-corpus digest groupBy without rescanning old
    val newKeyed = meta.select(col("doc_id"), col("k"))
    val newReps = newKeyed.groupBy(col("k")).agg(min(col("doc_id")).as("rep"))
    val newStars = newKeyed.join(newReps, Seq("k"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("x"), col("rep").as("y"))
    val crossExact = newReps
      .join(s.read.parquet(s"$idx/digests").withColumnRenamed("rep", "orep"), Seq("k"))
      .select(col("rep").as("x"), col("orep").as("y"))
    val half = s.read.parquet(s"$idx/near")
      .unionByName(s.read.parquet(s"$idx/exact"))
      .unionByName(newNear).unionByName(newStars).unionByName(crossExact)
    // label over IDs only: contractToLabels touches nothing but
    // doc_id, and re-deriving the old corpus' TEXTS here would put
    // O(old-corpus) text work back inside the O(batch + edges) path —
    // the stored hs already carries every old id
    contractToLabels(
      oldHs.select(col("doc_id"))
        .unionByName(meta.select(col("doc_id"))), half)
  }

  /** Shared DuckDB closure for the duplicate-cluster keys
    * (`dedup_components`, `dedup_apply`, `dedup_soft`, `mix_weighted`,
    * `pipeline_e2e`): corpus → MinHash/banded + exact edges → recursive
    * reach → per-doc component (min root) + per-component size.
    * `ctes` are the CTEs that build the (doc_id, text) relation `rel`,
    * so every consumer shares ONE copy of the closure (shingle width,
    * band count, 0.8 Jaccard bar, signature mixes) — a threshold change
    * cannot pass one key's parity gate while silently diverging
    * another's.
    */
  private def componentsClosure(ctes: String, rel: String): String =
    s"""WITH RECURSIVE $ctes,
       |hs AS (SELECT doc_id, ${D.hs} AS hs FROM $rel),
       |bands AS (${D.bands("hs")}),
       |near_pairs AS (
       |  SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |near_edges AS (
       |  SELECT x, y FROM near_pairs p
       |  JOIN hs ha ON ha.doc_id = p.x
       |  JOIN hs hb ON hb.doc_id = p.y
       |  WHERE ${D.jaccard("ha.hs", "hb.hs")} >= 0.8),
       |exact_edges AS (
       |  SELECT c.doc_id AS x, r.rep AS y
       |  FROM $rel c
       |  JOIN (SELECT text, min(doc_id) AS rep FROM $rel GROUP BY text) r
       |    ON c.text = r.text
       |  WHERE c.doc_id <> r.rep),
       |edges AS (
       |  SELECT x AS src, y AS dst FROM near_edges
       |  UNION SELECT y, x FROM near_edges
       |  UNION SELECT x, y FROM exact_edges
       |  UNION SELECT y, x FROM exact_edges),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM $rel
       |  UNION
       |  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id),
       |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       |sizes AS (SELECT comp, count(*) AS comp_size FROM comp GROUP BY comp)""".stripMargin

  /** The planted-triple corpus variant consumed by the dedup_* keys. */
  private val componentsClosureCtes: String = componentsClosure(
    s"corpus AS (\n  ${D.withCopies("documents", ComponentPlants)})", "corpus")

  private val componentsOracle: String =
    s"""$componentsClosureCtes
       |SELECT c.id AS doc_id, c.comp, n.comp_size
       |FROM comp c JOIN sizes n ON c.comp = n.comp
       |ORDER BY c.id""".stripMargin

  /** Per-component sizes `(lbl, comp_size)` of component labels
    * `(id, lbl)` — Spark twin of the closure's `sizes` CTE.
    */
  private[graft] def componentSizes(labels: DataFrame): DataFrame =
    labels.groupBy(col("lbl")).agg(count(lit(1)).as("comp_size"))

  /** `(doc_id, comp, comp_size)` per doc, in doc order — the output of
    * `dedup_components` and its delta and streaming twins.
    */
  private def componentRows(labels: DataFrame): DataFrame =
    labels.join(componentSizes(labels), Seq("lbl"))
      .select(col("id").as("doc_id"), col("lbl").as("comp"), col("comp_size"))
      .orderBy(col("doc_id"))

  /** Consume component labels `(id, lbl)`: one canonical (min-id =
    * label) survivor per cluster with its cluster size, removed count
    * and the survivor's own text hash. A singleton component (a doc
    * with no duplicates anywhere) survives itself with n_removed = 0 —
    * edge-spec'd on a no-duplicate corpus. The label aggregate is the
    * one corpus-sized (but 2-column) shuffle the apply step needs; the
    * text fetch joins the cluster-count-sized survivor set back to the
    * corpus with no broadcast hint (AQE decides by size).
    */
  private[graft] def applySurvivors(corpus: DataFrame, labels: DataFrame): DataFrame = {
    val sizes = componentSizes(labels)
    sizes.join(corpus, sizes("lbl") === corpus("doc_id"))
      .select(col("doc_id"), h32(col("text")).as("text_hash"),
        col("comp_size"), (col("comp_size") - 1).as("n_removed"))
      .orderBy(col("doc_id"))
  }

  private val applyOracle: String =
    s"""$componentsClosureCtes
       |SELECT s.comp AS doc_id, ${D.h32("c.text")} AS text_hash,
       |       s.comp_size, s.comp_size - 1 AS n_removed
       |FROM sizes s JOIN corpus c ON c.doc_id = s.comp
       |ORDER BY doc_id""".stripMargin

  /** The four-stage pipeline (gopher → dedup-apply → mix → pack) as one
    * DuckDB CTE chain — the oracle for `pipeline_e2e`. Every stage is
    * the per-stage oracle's own fragment (the component closure, the
    * temperature-rate CTEs, the packing window), re-scoped to the
    * previous stage's CTE instead of `documents`.
    */
  private lazy val pipelineE2eOracle: String = {
    val keepers =
      s"""corpus AS (
         |  ${D.withCopies("documents", ComponentPlants, carry = "source, ")}),
         |g AS (
         |  SELECT doc_id, source, text,
         |    ${D.gopherMetrics(D.toks)}
         |  FROM corpus),
         |keepers AS (
         |  SELECT doc_id, source, text, n_tokens FROM g
         |  WHERE n_tokens BETWEEN ${GopherWords._1} AND ${GopherWords._2}
         |    AND (1000000 * sum_len) // n_tokens BETWEEN ${GopherMeanLenMicro._1} AND ${GopherMeanLenMicro._2}
         |    AND (1000000 * n_alpha) // n_tokens >= $GopherAlphaMicro
         |    AND n_stop >= $GopherMinStop)""".stripMargin
    s"""${componentsClosure(keepers, "keepers")},
       |survivors AS (
       |  SELECT k.doc_id, k.source, k.n_tokens
       |  FROM keepers k JOIN comp c ON c.id = k.doc_id AND c.comp = k.doc_id),
       |per_src AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(n_tokens) AS BIGINT) AS src_tokens,
       |         ${wMilliSql("sum(n_tokens)")} AS w_milli
       |  FROM survivors GROUP BY source),
       |${mixRatesSql("per_src", "src_tokens", "source, n_docs, src_tokens", "source")},
       |sampled AS (
       |  SELECT s.source, s.doc_id, s.n_tokens
       |  FROM survivors s JOIN rates r ON s.source = r.source
       |  WHERE ${D.h32s("'mix'", "CAST(s.doc_id AS VARCHAR)")} % 1000000 < r.rate_micro),
       |${packSql("sampled")}""".stripMargin
  }

  // ---- temperature mixing (corpus_mix, mix_weighted, pipeline_e2e) -------

  /** Temperature-½ source weight in milli-units, round(√tokens · 1000):
    * sqrt is IEEE-correctly-rounded in both engines and quantized to
    * integer units at once. DuckDB twin: [[wMilliSql]].
    */
  private def wMilli(tokens: Column): Column = floor(sqrt(tokens) * 1000 + 0.5).cast("bigint")
  private def wMilliSql(tokens: String): String =
    s"CAST(floor(sqrt(CAST($tokens AS BIGINT)) * 1000 + 0.5) AS BIGINT)"

  /** (source, n_docs, src_tokens) of a doc frame, `tokens` per doc. */
  private def perSource(df: DataFrame, tokens: Column): DataFrame =
    df.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(tokens).cast("bigint").as("src_tokens"))

  /** Per-doc weight of each source in micro-units, pd_micro = w_milli /
    * tokens ∝ tokens^(-1/2), added (with w_milli) to a per-source frame
    * holding the `tokens` column.
    */
  private def withPdMicro(perSrc: DataFrame, tokens: String): DataFrame =
    perSrc.withColumn("w_milli", wMilli(col(tokens)))
      .withColumn("pd_micro",
        floor(lit(1000000.0) * col("w_milli") / col(tokens) + 0.5).cast("bigint"))

  /** Per-source keep rates over a [[withPdMicro]] frame: rate_micro =
    * round(1e6 · MixTarget · pd_micro / Σ n_docs·pd_micro), capped at
    * 1e6, all BIGINT (max ~2e8 · pd_micro ≪ 2^63), so the expected
    * sample is MixTarget docs. DuckDB twin: [[mixRatesSql]].
    */
  private def mixRates(pd: DataFrame): DataFrame = {
    val tot = pd.agg(sum(col("n_docs") * col("pd_micro")).as("w_total"))
    pd.crossJoin(broadcast(tot))
      .withColumn("rate_micro",
        least(lit(1000000L),
          expr(s"(1000000L * $MixTarget * pd_micro + w_total div 2) div w_total")))
  }

  /** The pd, tot and rates CTEs over per-source relation `from` (n_docs,
    * w_milli and the `tokens` column); `pdCols` and `rateCols` are the
    * columns pd and rates carry through.
    */
  private def mixRatesSql(from: String, tokens: String, pdCols: String,
      rateCols: String): String =
    s"""pd AS (
       |  SELECT $pdCols,
       |         CAST(floor(1000000.0 * w_milli / $tokens + 0.5) AS BIGINT) AS pd_micro
       |  FROM $from),
       |tot AS (SELECT CAST(sum(n_docs * pd_micro) AS BIGINT) AS w_total FROM pd),
       |rates AS (
       |  SELECT $rateCols,
       |         CAST(least(1000000,
       |           (1000000 * $MixTarget * pd_micro + w_total // 2) // w_total) AS BIGINT) AS rate_micro
       |  FROM pd, tot)""".stripMargin

  /** Docs of `df` kept by the seeded-hash Bernoulli at their source's
    * rate — the selection sample_stratified already proves.
    */
  private def sampleAtRate(df: DataFrame, rates: DataFrame, seed: String): DataFrame =
    df.join(broadcast(rates.select(col("source"), col("rate_micro"))), Seq("source"))
      .filter(h32Seeded(lit(seed), col("doc_id")) % 1000000 < col("rate_micro"))

  /** `rates` plus n_sampled, the docs [[sampleAtRate]] keeps per source,
    * in source order. DuckDB twin: [[sampledCountsSql]].
    */
  private def sampledCounts(docsDf: DataFrame, rates: DataFrame, seed: String): DataFrame = {
    val picked = sampleAtRate(docsDf, rates, seed)
      .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))
    rates.join(picked, Seq("source"), "left")
      .select(rates.columns.map(col) :+ coalesce(col("n_sampled"), lit(0L)).as("n_sampled"): _*)
      .orderBy(col("source"))
  }

  private def sampledCountsSql(seed: String, cols: String): String =
    s"""picked AS (
       |  SELECT d.source, count(*) AS n_sampled
       |  FROM documents d JOIN rates r ON d.source = r.source
       |  WHERE ${D.h32s(s"'$seed'", "CAST(d.doc_id AS VARCHAR)")} % 1000000 < r.rate_micro
       |  GROUP BY d.source)
       |SELECT $cols,
       |       coalesce(p.n_sampled, 0) AS n_sampled
       |FROM rates r LEFT JOIN picked p ON r.source = p.source
       |ORDER BY r.source""".stripMargin

  // ---- sequence packing (pack_sequences, pipeline_e2e) -------------------

  /** Next-fit packing of (source, doc_id, n_tokens) rows: a doc's pack is
    * its starting token offset within its source ÷ 256, one window per
    * source. DuckDB twin: [[packSql]].
    */
  private def packSequences(sized: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sized
      .withColumn("pack_id",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / 256.0).cast("bigint"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("pack_id"))
  }

  private def packSql(from: String): String =
    s"""packed AS (
       |  SELECT source, doc_id, n_tokens,
       |         CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |               - n_tokens) / 256.0) AS BIGINT) AS pack_id
       |  FROM $from)
       |SELECT source, pack_id, count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM packed GROUP BY source, pack_id ORDER BY source, pack_id""".stripMargin

  // ---- corpus_mix literals ---------------------------------------------

  /** Target sample size (docs) for temperature mixing. */
  private val MixTarget = 200L

  // ---- mix_epochs literals ---------------------------------------------

  /** Token budget the epoch plan fills (tokens, not docs — the unit a
    * training run actually budgets).
    */
  private val TokenBudget = 100000L

  /** Upsampling ceiling in milli-epochs (4000 = repeat a source at
    * most 4×): unbounded repetition of a tiny source degrades to
    * memorization, so every published mixing recipe caps epochs.
    */
  private val EpochCapMilli = 4000L

  // ---- shard_assign literals -------------------------------------------

  /** Data-parallel worker count for training-shard assignment. */
  private val NumShards = 8

  // ---- domain_filter literals ------------------------------------------

  /** Blocked domains — literal on both sides (the VALUES-dim pattern). */
  private val BlockedDomains = Seq(
    "src0-1.example.com", "src3-2.example.com", "src7-5.example.com")

  /** Max docs retained per domain (rank by doc_id). */
  private val DomainCap = 2

  // ---- dedup_url canonicalizer -----------------------------------------

  /** URL canonical form (dedup_url): lowercase → strip scheme → strip
    * www. → strip #fragment → strip utm_* / ref params → strip the
    * dangling ?/&/slash tail. RE2-and-Java-safe patterns, identical
    * text in the oracle SQL. Idempotent (property-tested): a canonical
    * URL contains none of the stripped material, so a second pass is a
    * no-op — which is what lets incremental crawls canonicalize new
    * URLs against an already-canonical frontier without re-processing.
    *
    * Two subtleties (both were review findings, both property-pinned):
    * the tracker match is anchored to a param boundary — a RUN of
    * consecutive tracking params after one [?&] collapses to that
    * delimiter, and a second isolated run re-matches on its own
    * delimiter — so `href=`/`xref=` (and `referrer=`) never lose their
    * `ref` substring; and the tail strip treats ?, & and / as ONE
    * trailing class, because stripping them in separate ordered passes
    * is not idempotent (`p?/` → `p?` → `p` across two passes).
    */
  private[graft] val UrlTrackerPattern = "([?&])((utm_[a-z]+|ref)=[^&#]*&?)+"
  private[graft] def canonicalizeUrl(url: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      lower(url), "^https?://", ""),
      "^www\\.", ""), "#.*$", ""), UrlTrackerPattern, "$1"),
      "[?&/]+$", "")

  // ---- dedup_lines literals --------------------------------------------

  /** 10-token boilerplate line planted at the head of every doc from
    * sources src0..src4 (125 docs → document frequency far above any
    * organic line's).
    */
  private val Boilerplate =
    "click here to subscribe to our newsletter for free updates now"
  private val BoilerplateSources = Seq("src0", "src1", "src2", "src3", "src4")
  /** A line is boilerplate when it appears in ≥ this many documents. */
  private val LineDfThreshold = 50

  val defs: Seq[QueryDef] = Seq(

    // ---- duplicate-cluster connected components ------------------------
    // Edges: (a) exact duplicates as a STAR to the text-group min —
    // |group|−1 edges, never the quadratic clique; (b) near-duplicates
    // from the LSH band self-join, Jaccard-verified at ≥ 0.8 — bounded
    // by band buckets. The edge bar is deliberately HIGHER than
    // dedup_near's 0.5: pair recall tolerates borderline matches, but
    // transitive closure amplifies every false edge into a merged
    // cluster (deleting non-duplicate data), so clustering demands
    // near-certain edges. Components by large-star/small-star
    // contraction (see componentLabels): edge-only phase pairs on a
    // checkpointed, shrinking list — the MinHash lineage is never
    // re-run. At 100 TB: edge count bounded by LSH collisions,
    // per-round cost two aggregates over edges ≪ corpus, corpus
    // touched once at the end.
    sql("dedup_components", componentsOracle) { (s, d) =>
      componentRows(componentLabelsIndexed(s, d)._1)
    },

    // ---- cluster-dedup APPLY: the deduped corpus itself ----------------
    // dedup_components LABELS clusters; this key CONSUMES the labels —
    // the pipeline's actual deliverable is "one canonical doc per
    // cluster". The component label is by construction the cluster's
    // min doc_id, so the survivor set IS the distinct labels: one
    // count-aggregate over the (corpus-sized but 2-column) label
    // stream, then ONE join back to the corpus to fetch each survivor's
    // text — the single corpus-sized join the apply step fundamentally
    // needs. Emits the survivor with its cluster size and removed
    // count; removed docs appear only as arithmetic (comp_size - 1),
    // never as rows — at 100 TB the output is cluster-count-sized,
    // ≪ corpus.
    sql("dedup_apply", applyOracle) { (s, d) =>
      val (labels, _, _) = componentLabelsIndexed(s, d)
      applySurvivors(componentCorpus(docs(s, d)), labels)
    },

    // ---- soft dedup (down-weight, don't drop) --------------------------
    // The third way to consume the duplicate clusters (SoftDeDup, Niu
    // et al. 2024): instead of deleting all but one member (dedup_apply)
    // keep EVERY doc and scale its training weight by 1/cluster_size,
    // so each distinct content contributes one unit of gradient mass
    // regardless of how many copies the crawl found. Loses nothing a
    // hard dedup's threshold call might regret, and the weight column
    // composes with corpus_mix's temperature sampling downstream.
    // Weights are exact micro-units (1e6 div size) — no float parity
    // risk. Same shuffle shape as dedup_components plus one 2-column
    // size aggregate; the weight itself is a map-side projection.
    sql("dedup_soft",
      s"""$componentsClosureCtes
         |SELECT c.id AS doc_id, c.comp, n.comp_size,
         |       (1000000 // n.comp_size)::BIGINT AS weight_micro
         |FROM comp c JOIN sizes n ON c.comp = n.comp
         |ORDER BY c.id""".stripMargin) { (s, d) =>
      val (labels, _, _) = componentLabelsIndexed(s, d)
      labels.join(componentSizes(labels), Seq("lbl"))
        .select(col("id").as("doc_id"), col("lbl").as("comp"), col("comp_size"),
          expr("1000000 div comp_size").as("weight_micro"))
        .orderBy(col("doc_id"))
    },

    // ---- leakage-free train/val/test split (cluster-aware) -------------
    // The eval-leakage failure mode of hash-splitting DOCUMENTS
    // (split_assign documents that contrast): a near-duplicate pair
    // split across train and test leaks the answer into training — the
    // canonical finding of Lee et al. 2021 §6.2. The fix every serious
    // pipeline ships: hash the duplicate-CLUSTER label, so all members
    // of a cluster (exact copies, truncations, near-dups) land in the
    // SAME split by construction. Cost over split_assign: the cluster
    // labeling itself (the dedup_components closure, which a pipeline
    // that deduped already has stored) — the split assignment proper
    // stays a pure seeded-hash projection, zero extra shuffles.
    sql("split_leakage_free",
      s"""$componentsClosureCtes
         |SELECT id AS doc_id, comp,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
         |  bucket
         |FROM (SELECT id, comp,
         |        ('0x' || substr(md5('split:' || CAST(comp AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
         |      FROM comp) t
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val (labels, _, _) = componentLabelsIndexed(s, d)
      labels
        .select(col("id").as("doc_id"), col("lbl").as("comp"),
          (h32Seeded(lit("split"), col("lbl")) % 100).as("bucket"))
        .select(col("doc_id"), col("comp"),
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test").as("split"),
          col("bucket"))
        .orderBy(col("doc_id"))
    },

    // ---- duplication-adjusted temperature mixing -----------------------
    // corpus_mix's rates treat every token as distinct content — a
    // source whose crawl double-counts its pages gets double the
    // mixture share. This key composes the soft-dedup weights with the
    // SAME tokens^(-1/2) temperature formula, but over EFFECTIVE token
    // mass: each doc contributes tokens·(1e6 div cluster_size)
    // micro-tokens, so duplicated content counts once per distinct
    // text no matter how many copies exist (the cluster closure here
    // runs on the RAW corpus — no planted triples — so most docs weigh
    // 1.0 and the fixture's organic duplicate pairs weigh down).
    // Shapes: clustering as in dedup_components; the weight join is
    // the one corpus-sized extra join; everything after is the
    // broadcast-scalar corpus_mix topology unchanged.
    sql("mix_weighted",
      s"""${componentsClosure("corpus AS (\n  SELECT doc_id, text FROM documents)", "corpus")},
         |wts AS (
         |  SELECT c.id AS doc_id, (1000000 // n.comp_size)::BIGINT AS weight_micro
         |  FROM comp c JOIN sizes n ON c.comp = n.comp),
         |per_src AS (
         |  SELECT d.source, count(*) AS n_docs,
         |         CAST(sum(len(${D.toks})) AS BIGINT) AS src_tokens,
         |         CAST(sum(len(${D.toks}) * w.weight_micro) AS BIGINT) AS eff_micro
         |  FROM documents d JOIN wts w ON d.doc_id = w.doc_id GROUP BY d.source),
         |eff AS (
         |  SELECT source, n_docs, src_tokens, eff_micro // 1000000 AS eff_tokens,
         |         ${wMilliSql("eff_micro // 1000000")} AS w_milli
         |  FROM per_src),
         |${mixRatesSql("eff", "eff_tokens", "source, n_docs, src_tokens, eff_tokens",
              "source, n_docs, src_tokens, eff_tokens")},
         |${sampledCountsSql("wmix", "r.source, r.n_docs, r.src_tokens, r.eff_tokens, r.rate_micro")}""".stripMargin) { (s, d) =>
      val base = docs(s, d)
      val (labels, _, _) = componentLabels(base.select(col("doc_id"), col("text")))
      val wts = labels.join(componentSizes(labels), Seq("lbl"))
        .select(col("id").as("doc_id"), expr("1000000 div comp_size").as("weight_micro"))
      // cache the 20-row aggregate: it embeds the clustering + two
      // corpus-sized joins, and the final plan otherwise re-evaluates
      // it in the tot / rates / picked branches
      val perSrc = withPdMicro(base.join(wts, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(tokens)).cast("bigint").as("src_tokens"),
          sum(size(tokens).cast("bigint") * col("weight_micro")).as("eff_micro"))
        .withColumn("eff_tokens", expr("eff_micro div 1000000")), "eff_tokens")
        .cache()
      val rates = mixRates(perSrc)
        .select(col("source"), col("n_docs"), col("src_tokens"),
          col("eff_tokens"), col("rate_micro"))
      sampledCounts(base, rates, "wmix")
    },

    // ---- incremental cluster maintenance -------------------------------
    // Same output (and oracle: the full-corpus closure) as
    // dedup_components, computed the way continuous ingest has to:
    // old×old work comes from the stored cc_old artifacts, only the
    // appended batch is ever shingled, and one digest join connects
    // spanning exact groups. Proving incremental == from-scratch is
    // the operator's contract — drift here silently corrupts every
    // later batch's dedup.
    sql("dedup_components_delta", componentsOracle) { (s, d) =>
      componentRows(componentLabelsDelta(s, d)._1)
    },

    // ---- streaming cluster maintenance ---------------------------------
    // The streaming twin of dedup_components_delta: the corpus arrives
    // as micro-batches (3 hash-split files, so duplicate pairs span
    // arrival windows), each batch updates the persisted edge/MinHash
    // index in O(batch + new edges), and labels are extracted by
    // contraction over the ACCUMULATED edges. Identical output to the
    // batch build for ANY split — same oracle, full-corpus closure.
    sql("stream_components", componentsOracle) { (s, d) =>
      import graft.streaming.ClusterStream
      val corpus = componentCorpus(docs(s, d))
      val root = scratchRunDir(s, "stream_cc")
      val (idx, inDir, chk) = (s"$root/idx", s"$root/in", s"$root/chk")
      hfsMkdirs(s, inDir)
      ClusterStream.seedIndex(s, corpus.limit(0), idx)
      // one parallel job stages all three arrival windows: hash-
      // repartition on doc_id → one part file per window, each file
      // one micro-batch (labels are split-invariant, so the window
      // assignment only needs determinism, not any particular cut)
      ClusterStream.stageWindows(corpus, 3, s"$root/staged", inDir)
      ClusterStream.runIngest(s, inDir, idx, chk)
      // labels come from the compacting extraction: the same fixed
      // point the plain labels() computes, plus the edge-index rewrite
      // to the member→root star set — so the oracle gate also proves
      // the post-compaction index yields the full-corpus closure
      componentRows(ClusterStream.compactIndex(s, idx)._1)
    },

    // ---- end-to-end pipeline composition -------------------------------
    // gopher_filter → cluster-dedup survivors → temperature mix →
    // sequence packing, composed as ONE lazy DataFrame chain (the
    // reference analog: chained exchangers, `demo.py:500-527`). Each
    // stage feeds the next without materialization, so Catalyst fuses
    // the per-row stages: the Gopher metrics and keep predicate
    // evaluate directly on the scan output — pipelined in the scan's
    // own stage, before any exchange, so only survivors ever cross a
    // shuffle (the HOF lambdas keep the Filter itself on the
    // interpreted path, not in the codegen span — see PLANS.md
    // §pipeline_e2e for the honest plan) — and column pruning drops
    // `text` the moment the last text-derived column is computed. The
    // only shuffles are the ones the semantics force: the dedup
    // clustering (band join + contraction), the two tiny mix
    // aggregates, and the per-source packing window. The oracle is the
    // same four stages as one CTE chain over DuckDB.
    sql("pipeline_e2e", pipelineE2eOracle) { (s, d) =>
      // the planted component corpus (exact copy +10000, truncated
      // near-copy +20000), with `source` carried through for the mix
      val corpus = Text.withCopies(docs(s, d), ComponentPlants, carry = Seq("source"))
      // stage 1: Gopher rules (gopher_filter's thresholds; the metrics
      // are the shared codegen'd whole-string expressions — see
      // Text.gopherSumLen — so every lineage re-pass over keepers pays
      // compiled regex scans instead of interpreted HOF lambdas)
      val keepers = corpus.select(Seq(col("doc_id"), col("source"), col("text")) ++
          Text.gopherMetrics: _*)
        .filter(col("n_tokens").between(GopherWords._1, GopherWords._2) &&
          expr("(1000000 * sum_len) div n_tokens")
            .between(GopherMeanLenMicro._1, GopherMeanLenMicro._2) &&
          expr("(1000000 * n_alpha) div n_tokens") >= GopherAlphaMicro &&
          col("n_stop") >= GopherMinStop)
        .select(col("doc_id"), col("source"), col("text"), col("n_tokens"))
      // ONE pass over the keeper texts computes EVERY downstream proxy
      // (guide §8: decide with small rows, move/scan big rows once):
      // shingle-hash set for the near-dup edges, md5 digest for the
      // exact-dup stars, plus the (source, n_tokens) metadata the mix
      // and packing stages need. Checkpointed lazily — the
      // contraction's round-1 signature materializes it — so the band
      // self-join, both Jaccard sides, the star build, the label
      // assignment join, the survivor join and the mix aggregates all
      // read these text-free metadata blocks; before this every one of
      // those consumers re-ran the scan + union + Gopher metrics +
      // filter lineage (~8 full text passes per run).
      val meta = keepers.select(col("doc_id"), col("source"), col("n_tokens"),
          Text.hsCol(col("text")).as("hs"), md5(col("text")).as("k"))
        .localCheckpoint(false)
      // stage 2: cluster-dedup survivors (component-min docs) among keepers
      val hs = meta.select(col("doc_id"), col("hs"))
      val exact = exactStarEdgesKeyed(meta.select(col("doc_id"), col("k")))
      val (labels, _, _) = componentLabels(meta.select(col("doc_id")),
        pre = Some((hs, Text.minhashBands(hs), exact)))
      // cached: the mix stage reads survivors THREE times per action —
      // the broadcast(tot) job, the broadcast(rates) job, and the final
      // sampled/packed chain — and each read otherwise re-evaluates the
      // meta-checkpoint ⋈ labels join (r22 profile: two extra ~0.6 s
      // broadcast-subtree jobs per run at sf0.1). Small rows:
      // (doc_id, source, n_tokens) for the survivor set.
      val survivors = meta.join(
        labels.filter(col("id") === col("lbl")).select(col("id").as("doc_id")),
        Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("n_tokens")).cache()
      // stage 3: temperature mix over the survivor population (the
      // corpus_mix arithmetic, rates computed FROM the survivors)
      val rates = mixRates(withPdMicro(perSource(survivors, col("n_tokens")), "src_tokens"))
        .select(col("source"), col("rate_micro"))
      // stage 4: pack the sampled docs into 256-token sequences
      packSequences(sampleAtRate(survivors, rates, "mix"))
    },

    // ---- token-budget sequence packing ---------------------------------
    // Streaming next-fit packing: docs ordered (source, doc_id), each
    // doc's pack is its starting token offset ÷ 256. One window per
    // source partition — the only shuffle — then a groupBy on
    // (source, pack). A doc whose span crosses a 256 boundary starts a
    // later pack; budget overflow is bounded by one doc (standard for
    // streaming packers). Deterministic, integer-only.
    sql("pack_sequences",
      s"""WITH sized AS (
         |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens
         |  FROM documents),
         |${packSql("sized")}""".stripMargin) { (s, d) =>
      packSequences(docs(s, d)
        .select(col("source"), col("doc_id"), size(tokens).cast("bigint").as("n_tokens")))
    },

    // ---- overlapping context-window chunking ---------------------------
    // 32-token chunks, stride 24 (8-token overlap) — the RAG/context
    // splitting shape. The expand is a bounded per-row sequence (≤ 5
    // chunks at the fixture's 100-token cap), so the whole operator is
    // map-side: no shuffle, no explode amplification beyond the chunk
    // count itself. The oracle cross-joins a literal stride table and
    // filters — same rows, engine-idiomatic on each side.
    // NOTE the oracle's stride table is `range(0, 8)`: enough for docs
    // up to 8 + 24·7 = 176 tokens. The Spark side's sequence() is
    // data-bounded, so a future fixture with longer docs would diverge
    // silently — the literal is asserted against the data below
    // (chunk_id max + headroom), failing loudly instead.
    sql("doc_chunk",
      s"""SELECT d.doc_id,
         |  CAST((t.g) AS BIGINT) AS chunk_id,
         |  1 + 24 * t.g AS start,
         |  least(32, len(${D.toks}) - (1 + 24 * t.g) + 1) AS chunk_len,
         |  ${D.h32(s"array_to_string((${D.toks})[1 + 24*t.g : 1 + 24*t.g + 31], ' ')")} AS chunk_hash
         |FROM documents d, range(0, 8) t(g)
         |WHERE 1 + 24 * t.g <= greatest(len(${D.toks}) - 8, 1)
         |ORDER BY d.doc_id, chunk_id""".stripMargin) { (s, d) =>
      docs(s, d)
        .select(col("doc_id"), tokens.as("tk"))
        .select(col("doc_id"), col("tk"),
          posexplode(sequence(lit(1), greatest(size(col("tk")) - 8, lit(1)), lit(24))))
        .select(col("doc_id"),
          col("pos").cast("bigint").as("chunk_id"),
          col("col").cast("bigint").as("start"),
          least(lit(32), size(col("tk")) - col("col") + 1).cast("bigint").as("chunk_len"),
          h32(array_join(slice(col("tk"), col("col"), lit(32)), " ")).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // ---- temperature-weighted corpus mixing ----------------------------
    // Temperature resampling à la multilingual pretraining: a source's
    // SHARE of the sample ∝ tokens^0.5, so its per-DOC keep rate ∝
    // tokens^0.5 / tokens = tokens^(-1/2) — monotone-decreasing in
    // source size (small sources upweighted per doc, large ones
    // downweighted), normalized so the expected sample is MixTarget
    // docs. Arithmetic is exact-integer end-to-end — sqrt and one
    // division are IEEE-correctly-rounded (identical in both engines)
    // and quantized to integer units immediately; the rate itself is a
    // pure-BIGINT rounded division (`div` here ≡ DuckDB `//` on
    // positives) — so the oracle hash-matches without any epsilon.
    // Selection is the seeded-hash Bernoulli the stratified sampler
    // already proves. Two tiny aggregates + one broadcast join against
    // the doc stream: scale-safe.
    sql("corpus_mix",
      s"""WITH per_src AS (
         |  SELECT source, count(*) AS n_docs,
         |         CAST(sum(len(${D.toks})) AS BIGINT) AS src_tokens,
         |         ${wMilliSql(s"sum(len(${D.toks}))")} AS w_milli
         |  FROM documents GROUP BY source),
         |${mixRatesSql("per_src", "src_tokens", "source, n_docs, src_tokens",
              "source, n_docs, src_tokens")},
         |${sampledCountsSql("mix", "r.source, r.n_docs, r.src_tokens, r.rate_micro")}""".stripMargin) { (s, d) =>
      val rates = mixRates(withPdMicro(perSource(docs(s, d), size(tokens)), "src_tokens"))
        .select(col("source"), col("n_docs"), col("src_tokens"), col("rate_micro"))
      sampledCounts(docs(s, d), rates, "mix")
    },

    // ---- per-source epoch plan for a token budget ----------------------
    // The OTHER half of temperature mixing: corpus_mix SUBSAMPLES a
    // per-doc keep rate; an epoch plan decides how many times each
    // source is REPEATED to fill a token budget (the LLaMA/DoReMi-style
    // data recipe — small high-quality sources run multiple epochs,
    // capped; huge sources run fractions of one). Same tokens^0.5
    // temperature weight as corpus_mix, same exact-integer discipline:
    // sqrt is quantized to milli-units immediately, every division is
    // a rounded BIGINT `div`/`//`, so the oracle is bit-equal. Two tiny
    // aggregates — nothing here touches per-doc data after the first
    // groupBy, so the plan is scale-free.
    sql("mix_epochs",
      s"""WITH per_src AS (
         |  SELECT source, count(*) AS n_docs,
         |         CAST(sum(len(${D.toks})) AS BIGINT) AS src_tokens,
         |         ${wMilliSql(s"sum(len(${D.toks}))")} AS w_milli
         |  FROM documents GROUP BY source),
         |tot AS (SELECT CAST(sum(w_milli) AS BIGINT) AS w_total FROM per_src),
         |planned AS (
         |  SELECT source, n_docs, src_tokens,
         |         ($TokenBudget * w_milli + w_total // 2) // w_total AS target_tokens
         |  FROM per_src, tot)
         |SELECT source, n_docs, src_tokens, target_tokens,
         |       least($EpochCapMilli,
         |             (1000 * target_tokens + src_tokens // 2) // src_tokens) AS epochs_milli,
         |       (src_tokens * least($EpochCapMilli,
         |             (1000 * target_tokens + src_tokens // 2) // src_tokens) + 500) // 1000 AS planned_tokens
         |FROM planned ORDER BY source""".stripMargin) { (s, d) =>
      val perSrc = perSource(docs(s, d), size(tokens))
        .withColumn("w_milli", wMilli(col("src_tokens")))
      val tot = perSrc.agg(sum(col("w_milli")).as("w_total"))
      perSrc.crossJoin(broadcast(tot))
        .withColumn("target_tokens",
          expr(s"($TokenBudget * w_milli + w_total div 2) div w_total"))
        .withColumn("epochs_milli",
          least(lit(EpochCapMilli),
            expr("(1000 * target_tokens + src_tokens div 2) div src_tokens")))
        .withColumn("planned_tokens",
          expr("(src_tokens * epochs_milli + 500) div 1000"))
        .select(col("source"), col("n_docs"), col("src_tokens"),
          col("target_tokens"), col("epochs_milli"), col("planned_tokens"))
        .orderBy(col("source"))
    },

    // ---- quality-tercile corpus bucketing (head / middle / tail) -------
    // The CCNet regime (Wenzek et al. 2020): partition the corpus into
    // head/middle/tail thirds by a per-doc quality signal, so a data
    // recipe can oversample the head and drop or down-weight the tail.
    // The signal is the engine's own quality_micro (factored in Text so
    // both keys score the identical doubles). The tercile thresholds
    // are computed EXACTLY but scale-free: scores quantize to centi
    // cells (q_micro div 10⁴ ∈ [0, 100] — ≤ 101 distinct values by
    // construction), the cumulative count runs over that bounded
    // histogram (the unpartitioned window frames ≤ 101 rows no matter
    // the corpus size — this is the quantize-then-rank trick that
    // replaces a global percentile sort), and the two thresholds are
    // the smallest cells whose cumulative count reaches ⌈N/3⌉ / ⌈2N/3⌉.
    // Docs then bucket via a broadcast 1-row threshold join. All
    // integer arithmetic after the score — no percentile function, no
    // float frontier.
    sql("quality_buckets",
      s"""WITH q AS (${graft.ops.Text.qualityMicroSql}),
         |c AS (SELECT doc_id, q_micro, q_micro // 10000 AS qc FROM q),
         |hist AS (SELECT qc AS v, count(*) AS c FROM c GROUP BY qc),
         |n AS (SELECT count(*) AS nn FROM c),
         |${graft.ops.tercileCutsSql("hist", "th", "t1", "t2")},
         |b AS (SELECT CASE WHEN qc <= t1 THEN 'tail'
         |                  WHEN qc <= t2 THEN 'middle'
         |                  ELSE 'head' END AS bucket, q_micro
         |      FROM c, th)
         |SELECT bucket, count(*) AS n_docs,
         |       CAST(min(q_micro) AS BIGINT) AS min_q_micro,
         |       CAST(max(q_micro) AS BIGINT) AS max_q_micro,
         |       CAST(sum(q_micro) // count(*) AS BIGINT) AS avg_q_micro
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      qualityBuckets(docs(s, d))
    },

    // ---- deterministic training-shard assignment -----------------------
    // Sharding the corpus across data-parallel workers without a
    // global sort: shard = seeded hash of doc_id (map-side, uniform),
    // in-shard training order = rank by a SECOND seeded hash (a
    // deterministic shuffle — hash order is uncorrelated with doc_id,
    // source, or content). The window partitions by shard, which IS
    // the distribution boundary at scale: each worker's order file
    // sorts independently, nothing global. Reproducibility is the
    // point — rerunning the job yields byte-identical shard files, and
    // the oracle proves engine-independence of the whole assignment.
    sql("shard_assign",
      s"""SELECT doc_id,
         |       ${D.h32s("'shard'", "CAST(doc_id AS VARCHAR)")} % $NumShards AS shard,
         |       row_number() OVER (
         |         PARTITION BY ${D.h32s("'shard'", "CAST(doc_id AS VARCHAR)")} % $NumShards
         |         ORDER BY ${D.h32s("'order'", "CAST(doc_id AS VARCHAR)")}, doc_id) AS rank
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val shard = h32Seeded(lit("shard"), col("doc_id")) % NumShards
      val ord = h32Seeded(lit("order"), col("doc_id"))
      val w = Window.partitionBy(shard).orderBy(ord, col("doc_id"))
      docs(s, d)
        .select(col("doc_id"), shard.as("shard"),
          row_number().over(w).cast("bigint").as("rank"))
        .orderBy(col("doc_id"))
    },

    // ---- corpus-frequency rarity scoring -------------------------------
    // Quality signal: mean token rarity (corpus_total / token_count,
    // capped, in integer milli-units) + rare-token count per doc. A doc
    // whose tokens are mostly corpus-rare is likely gibberish/noise —
    // the unigram cousin of a perplexity filter, chosen over log-prob
    // because ln() is not correctly-rounded (cross-engine divergence)
    // while capped integer rarity is bit-portable. Plan shape: one
    // vocabulary aggregate, one broadcast scalar, one shuffle join on
    // token, one integer re-aggregate per doc — all safe at vocab ≫
    // memory since the token join is a plain shuffle join.
    sql("doc_rarity",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${D.toks}) AS t FROM documents),
         |vocab AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
         |tot AS (SELECT count(*) AS total FROM tok),
         |scored AS (
         |  SELECT tok.doc_id,
         |         least(CAST(floor(1000.0 * tot.total / vocab.c) AS BIGINT), 100000) AS rar,
         |         CASE WHEN vocab.c <= 2 THEN 1 ELSE 0 END AS is_rare
         |  FROM tok JOIN vocab ON tok.t = vocab.t, tot)
         |SELECT doc_id, count(*) AS n_tokens,
         |       CAST(floor(sum(rar) / count(*)) AS BIGINT) AS rarity_milli,
         |       CAST(sum(is_rare) AS BIGINT) AS n_rare,
         |       (sum(is_rare) * 5 >= count(*)) AS low_quality
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tok = docs(s, d).select(col("doc_id"), explode(tokens).as("t"))
      val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
      val tot = tok.agg(count(lit(1)).as("total"))
      tok.join(vocab, Seq("t"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"),
          least(floor(lit(1000.0) * col("total") / col("c")).cast("bigint"),
            lit(100000L)).as("rar"),
          when(col("c") <= 2, 1L).otherwise(0L).as("is_rare"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          floor(sum(col("rar")) / count(lit(1))).cast("bigint").as("rarity_milli"),
          sum(col("is_rare")).as("n_rare"),
          (sum(col("is_rare")) * 5 >= count(lit(1))).as("low_quality"))
        .orderBy(col("doc_id"))
    },

    // ---- domain extraction + blocklist + per-domain cap ----------------
    // Source-hygiene step: derive each doc's URL (deterministic synth
    // from source/doc_id — the fixture has no URL column), extract the
    // registrable domain by regex, drop blocklisted domains, keep at
    // most DomainCap docs per domain (rank by doc_id). Shapes: regex is
    // map-side codegen, the blocklist is a broadcast anti-join against
    // a literal dim, the cap is one window — at 100 TB the window key
    // (domain) is the natural partition and the cap bounds its output.
    sql("domain_filter", {
      val blocked = BlockedDomains.map(b => s"('$b')").mkString(", ")
      s"""WITH urls AS (
         |  SELECT doc_id,
         |         'https://www.' || source || '-' || CAST(doc_id % 7 AS VARCHAR)
         |           || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
         |  FROM documents),
         |extracted AS (
         |  SELECT doc_id, url,
         |         regexp_extract(url, 'https?://(?:www\\.)?([^/]+)', 1) AS domain
         |  FROM urls),
         |allowed AS (
         |  SELECT e.doc_id, e.domain
         |  FROM extracted e
         |  WHERE e.domain NOT IN (SELECT * FROM (VALUES $blocked) b(dom))),
         |ranked AS (
         |  SELECT doc_id, domain,
         |         row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
         |  FROM allowed)
         |SELECT doc_id, domain, rk FROM ranked
         |WHERE rk <= $DomainCap ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val blocked = broadcast(BlockedDomains.toDF("dom"))
      val w = Window.partitionBy(col("domain")).orderBy(col("doc_id"))
      docs(s, d)
        .select(col("doc_id"),
          concat(lit("https://www."), col("source"), lit("-"),
            (col("doc_id") % 7).cast("string"), lit(".example.com/doc/"),
            col("doc_id").cast("string")).as("url"))
        .withColumn("domain",
          regexp_extract(col("url"), "https?://(?:www\\.)?([^/]+)", 1))
        .join(blocked, col("domain") === col("dom"), "left_anti")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= DomainCap)
        .select(col("doc_id"), col("domain"), col("rk").cast("bigint"))
        .orderBy(col("doc_id"))
    },

    // ---- line-level boilerplate dedup (C4/RefinedWeb shape) ------------
    // Split each doc into 10-token lines, hash every line, find lines
    // whose DOCUMENT frequency crosses the boilerplate threshold, and
    // strip them from every doc by an array filter. The planted
    // subscribe-line (125 docs) is exactly what must vanish; organic
    // lines (df ≤ a few) must survive. Shapes: the line-DF aggregate is
    // one shuffle on line hash; the boilerplate set is collected into a
    // ONE-ROW array by an aggregate and broadcast-cross-joined (the
    // tfidf scalar pattern) — never to the driver; the strip itself is
    // a map-side lambda. At 100 TB the boilerplate set is small by
    // construction (high-DF lines only), so the broadcast holds.
    sql("dedup_lines", {
      val srcs = BoilerplateSources.map(x => s"'$x'").mkString(", ")
      val lineExpr = // i-th 10-token line of the (possibly planted) text
        "list_transform(range(1, CAST(ceil(len(string_split(text2, ' ')) / 10.0) AS BIGINT) + 1), " +
          "i -> array_to_string((string_split(text2, ' '))[(i-1)*10+1 : (i-1)*10+10], ' '))"
      s"""WITH planted AS (
         |  SELECT doc_id,
         |         CASE WHEN source IN ($srcs)
         |              THEN '$Boilerplate' || ' ' || text ELSE text END AS text2
         |  FROM documents),
         |lined AS (SELECT doc_id, $lineExpr AS lines FROM planted),
         |df AS (
         |  SELECT ${D.h32("line")} AS lh, count(DISTINCT doc_id) AS n_docs
         |  FROM (SELECT doc_id, unnest(lines) AS line FROM lined) x
         |  GROUP BY lh),
         |bp AS (SELECT coalesce(list(lh), CAST([] AS BIGINT[])) AS bad
         |       FROM df WHERE n_docs >= $LineDfThreshold)
         |SELECT doc_id, len(lines) AS n_lines,
         |       len(lines) - len(list_filter(lines, l -> NOT list_contains(bad, ${D.h32("l")}))) AS n_removed,
         |       ${D.h32(s"array_to_string(list_filter(lines, l -> NOT list_contains(bad, ${D.h32("l")})), ' || ')")} AS clean_hash
         |FROM lined, bp ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val planted = docs(s, d)
        .select(col("doc_id"),
          when(col("source").isin(BoilerplateSources: _*),
            concat(lit(Boilerplate), lit(" "), col("text")))
            .otherwise(col("text")).as("text2"))
      val lined = planted.select(col("doc_id"),
        transform(
          sequence(lit(1), ceil(size(split(col("text2"), " ")) / 10.0).cast("int")),
          i => array_join(
            slice(split(col("text2"), " "), (i - 1) * 10 + 1, lit(10)), " ")).as("lines"))
      val dfCounts = lined
        .select(col("doc_id"), explode(col("lines")).as("line"))
        .groupBy(h32(col("line")).as("lh"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      val bp = dfCounts.filter(col("n_docs") >= LineDfThreshold)
        .agg(coalesce(collect_list(col("lh")), array().cast("array<bigint>")).as("bad"))
      val clean = filter(col("lines"), l => !array_contains(col("bad"), h32(l)))
      lined.crossJoin(broadcast(bp))
        .select(col("doc_id"),
          size(col("lines")).cast("bigint").as("n_lines"),
          (size(col("lines")) - size(clean)).cast("bigint").as("n_removed"),
          h32(array_join(clean, " || ")).as("clean_hash"))
        .orderBy(col("doc_id"))
    },

    // ---- URL canonicalization dedup (crawl-frontier shape) -------------
    // A crawl sees the same page under many spellings: scheme/host case,
    // a www. prefix, tracking query params, fragments, trailing slashes.
    // Canonicalize-then-group is the cheapest dedup in every web
    // pipeline because it needs NO content comparison — one map-side
    // regexp chain (pure codegen projection) and one groupBy on the
    // canonical key. Every doc_id % 10 == 0 gets a planted messy alias
    // (+50000: uppercased, no www, utm/ref params, #fragment, trailing
    // slash) that must collapse onto its base URL; the recovery is
    // provable because ONLY those groups may have 2 members.
    // Canonical steps (identical RE2-safe patterns both engines):
    // lowercase → strip scheme → strip www. → strip #fragment → strip
    // utm_*/ref params → strip dangling ?/& → strip trailing slash.
    sql("dedup_url", {
      val mkUrl =
        "'https://www.' || source || '-' || CAST(doc_id % 7 AS VARCHAR) " +
          "|| '.example.com/doc/' || CAST(doc_id AS VARCHAR)"
      val mkAlias =
        "'HTTP://' || upper(source) || '-' || CAST(doc_id % 7 AS VARCHAR) " +
          "|| '.EXAMPLE.COM/doc/' || CAST(doc_id AS VARCHAR) " +
          "|| '/?utm_source=feed&ref=rss#top'"
      s"""WITH crawl AS (
         |  SELECT doc_id, $mkUrl AS url FROM documents
         |  UNION ALL
         |  SELECT doc_id + 50000, $mkAlias FROM documents WHERE doc_id % 10 = 0),
         |canon AS (
         |  SELECT doc_id,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |      lower(url), '^https?://', ''),
         |      '^www\\.', ''), '#.*$$', ''), '$UrlTrackerPattern', '\\1', 'g'),
         |      '[?&/]+$$', '') AS canon_url
         |  FROM crawl)
         |SELECT canon_url, min(doc_id)::BIGINT AS keeper,
         |       count(*)::BIGINT AS n_variants
         |FROM canon GROUP BY canon_url ORDER BY canon_url""".stripMargin
    }) { (s, d) =>
      val base = docs(s, d).select(col("doc_id"),
        concat(lit("https://www."), col("source"), lit("-"),
          (col("doc_id") % 7).cast("string"), lit(".example.com/doc/"),
          col("doc_id").cast("string")).as("url"))
      val alias = docs(s, d).filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 50000).as("doc_id"),
          concat(lit("HTTP://"), upper(col("source")), lit("-"),
            (col("doc_id") % 7).cast("string"), lit(".EXAMPLE.COM/doc/"),
            col("doc_id").cast("string"),
            lit("/?utm_source=feed&ref=rss#top")).as("url"))
      val canon = base.unionByName(alias)
        .select(col("doc_id"), canonicalizeUrl(col("url")).as("canon_url"))
      canon.groupBy(col("canon_url"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_variants"))
        .orderBy(col("canon_url"))
    })
}
